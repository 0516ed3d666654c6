package hdbench

/** Partition agreement between a predicted and a generating labelling of
  * the same items (each class, noise included, is one group). */
object Score {

  final case class Agreement(ari: Double, pairRecall: Double)

  def agreement(truth: Array[Int], pred: Array[Int]): Agreement = {
    require(truth.length == pred.length, "labellings differ in length")
    def c2(x: Long): Double = x.toDouble * (x - 1) / 2.0
    val cells = scala.collection.mutable.HashMap.empty[(Int, Int), Long]
    var i = 0
    while (i < truth.length) {
      val key = (truth(i), pred(i))
      cells(key) = cells.getOrElse(key, 0L) + 1L
      i += 1
    }
    val rows = cells.groupMapReduce(_._1._1)(_._2)(_ + _).values
    val cols = cells.groupMapReduce(_._1._2)(_._2)(_ + _).values
    val sumCells = cells.values.map(c2).sum
    val sumRows = rows.map(c2).sum
    val sumCols = cols.map(c2).sum
    val expected = sumRows * sumCols / c2(truth.length.toLong)
    val maxIndex = (sumRows + sumCols) / 2.0
    val ari =
      if (maxIndex == expected) 1.0 else (sumCells - expected) / (maxIndex - expected)
    Agreement(ari, if (sumRows == 0) 1.0 else sumCells / sumRows)
  }
}
