package perfbench

/** The output checks, as pure functions over plain values so a test can
  * feed them perturbed outputs. Each returns the number of mismatches
  * (0 = the output is right).
  */
object Checks {

  /** Latest-image table vs the expected rows, both keyed by pk; a missing,
    * extra, duplicated or differing row counts once. */
  def snapshot(expected: Map[Long, Seq[String]], actual: Seq[(Long, Seq[String])]): Long = {
    val grouped = actual.groupBy(_._1)
    val keys = expected.keySet ++ grouped.keySet
    keys.count { k =>
      grouped.get(k) match {
        case Some(Seq((_, row))) => !expected.get(k).contains(row)
        case _ => true
      }
    }.toLong
  }

  /** Per-key counts vs expected counts: the summed absolute difference. */
  def counts(expected: Map[String, Long], actual: Map[String, Long]): Long =
    (expected.keySet ++ actual.keySet).toSeq
      .map(k => math.abs(expected.getOrElse(k, 0L) - actual.getOrElse(k, 0L))).sum

  /** Admitted corpus vs the expected (doc_id → text): a doc missing,
    * extra, duplicated or carrying other text counts once. */
  def corpus(expected: Map[Long, String], actual: Seq[(Long, String)]): Long =
    snapshot(expected.map { case (k, v) => k -> Seq(v) },
      actual.map { case (k, v) => k -> Seq(v) })
}
