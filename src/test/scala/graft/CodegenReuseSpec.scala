package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.TimeUnit

import org.scalatest.funsuite.AnyFunSuite

/** Repeated passes reuse their generated classes: in a session opened
  * through [[GraftSession]], the third identical pass of an exact fit, a
  * bubble fit and an n-gram Jaccard self-join compiles no class at all.
  *
  * Runs [[graft.tools.CodegenPasses]] in a child JVM, because Spark sizes
  * its generated-class cache once per JVM and this suite's JVM has its own.
  * With Spark's defaults (100 entries, stage number in the class name) the
  * same three passes compiled 120, 101 and 100 classes: a pass needs more
  * distinct classes than the cache holds, so LRU eviction removes each one
  * before its next use.
  *
  * Plans that changed between passes, and so compiled again once the cache
  * was large enough: the n-gram Jaccard verify join (candidate pairs joined
  * to the sorted shingle arrays of both sides). Adaptive execution numbers
  * the whole-stage pipelines of its three exchange inputs in the order
  * they become ready, which varies from run to run, and with
  * `spark.sql.codegen.useIdInClassName` on that number is part of the
  * class name, so a renumbered pipeline is new source. GraftSession turns
  * it off.
  */
class CodegenReuseSpec extends AnyFunSuite {

  test("third identical pass compiles no generated class") {
    val log = Files.createTempFile("codegen-passes", ".log")
    try {
      val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
        NearDupTwoProcessSmoke.addOpens ++ Seq("-Xmx2g", "-Dfile.encoding=UTF-8",
          "-cp", System.getProperty("java.class.path"),
          "graft.tools.CodegenPasses", "3")
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(log.toFile).start()
      val done = p.waitFor(240, TimeUnit.SECONDS)
      if (!done) p.destroyForcibly()
      val out = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
      assert(done && p.exitValue() == 0, s"child JVM failed or hung:\n${out.takeRight(4000)}")
      val counts = out.linesIterator.collectFirst {
        case l if l.startsWith("compiles=") => l.stripPrefix("compiles=").split(",").map(_.toLong)
      }.getOrElse(fail(s"no compiles= line from the child:\n${out.takeRight(4000)}"))
      info(s"Janino compiles per pass: ${counts.mkString(", ")}")
      assert(counts.length == 3)
      assert(counts(0) > 0, "the first pass compiled nothing: the count is not being read")
      assert(counts(2) == 0, s"third pass compiled ${counts(2)} classes")
    } finally Files.deleteIfExists(log)
  }
}
