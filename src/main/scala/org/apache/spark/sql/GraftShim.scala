package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.storage.StorageLevel

/** Bridge into the `private[sql]` Column⇄Expression converters so graft's
  * native Catalyst expressions can be exposed as ordinary [[Column]]s
  * without installing SparkSessionExtensions on every session. */
object GraftShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Apply a `SparkSessionExtensions` injector to an ALREADY-RUNNING
    * session's function registry. Extensions normally only take effect at
    * session build time (`.withExtensions` / `spark.sql.extensions`);
    * test harnesses and notebooks that inherit a live session use this to
    * get the same named SQL functions. */
  def installFunctions(spark: SparkSession, injector: SparkSessionExtensions => Unit): Unit = {
    val ext = new SparkSessionExtensions
    injector(ext)
    ext.registerFunctions(spark.sessionState.functionRegistry)
  }

  /** Flush the async listener bus so a test's `SparkListener` has seen
    * every event from work submitted before this call. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Test-only audit channel: when set, every [[materialize]] reports the
    * physical plan it is about to execute. `toRdd` bypasses Dataset actions,
    * so `QueryExecutionListener`s never see these inner-round plans — plan
    * audits subscribe here to close that blind spot. */
  @volatile var planAuditSink: Option[String => Unit] = None

  /** The session's configured auto-broadcast threshold in bytes (−1 =
    * disabled), and a frame's post-optimization size estimate — for
    * operators that make an explicit, measured broadcast decision after
    * materializing a cache (accurate cached stats can flip Catalyst's own
    * threshold check the WRONG way when the alternative is an
    * occurrence-multiset shuffle far bigger than the relation). */
  def autoBroadcastThreshold(spark: SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  def sizeEstimate(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Eagerly materialize `df` into cached executor blocks and return a
    * DataFrame reading those blocks, plus the handle needed to free them.
    *
    * Unlike `Dataset.localCheckpoint` the lineage is NOT truncated, so
    * unpersisting after a later rotation is always safe (recompute falls
    * back to the original plan instead of failing); unlike `persist` the
    * consumer plan is a flat scan of the blocks, so iterative drivers
    * don't accumulate an ever-growing logical plan.
    */
  def materialize(df: DataFrame): (DataFrame, RDD[_]) = {
    val (out, rdd, _) = materializeCounted(df)
    (out, rdd)
  }

  /** [[materialize]] plus the materialized row count. The eager `count()`
    * that creates the blocks IS the row count, so a loop that needs the
    * count anyway (Borůvka's per-round component count) reads it from here
    * instead of paying a second counting job per round. */
  def materializeCounted(df: DataFrame): (DataFrame, RDD[_], Long) = {
    planAuditSink.foreach(sink => sink(df.queryExecution.executedPlan.toString))
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = rdd.count() // eager: blocks exist before the previous round is freed
    val out = spark.internalCreateDataFrame(rdd.asInstanceOf[RDD[InternalRow]], df.schema)
    (out, rdd, n)
  }

  /** Lazy [[materialize]]: persist the plan's RDD WITHOUT computing it.
    * Blocks appear when the first consumer action runs — so an iterative
    * round whose next step is a full-pass probe anyway (a convergence
    * count, a fixpoint signature aggregate) fuses its materialization job
    * into the probe job instead of paying both. Two properties make this
    * safe where a lazy `localCheckpoint` would not be:
    *   - lineage is retained (same as [[materialize]]), so a stage that is
    *     freed early or only partially cached recomputes through its
    *     original plan instead of failing;
    *   - the returned view claims no partitioning (same as
    *     [[materialize]]'s, unlike `localCheckpoint`'s), so a consumer
    *     planned BEFORE execution can never bake in a partitioning that
    *     the adaptive runtime later changes under it. */
  def stage(df: DataFrame): (DataFrame, RDD[_]) = {
    planAuditSink.foreach(sink => sink(df.queryExecution.executedPlan.toString))
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out = spark.internalCreateDataFrame(rdd.asInstanceOf[RDD[InternalRow]], df.schema)
    (out, rdd)
  }
}
