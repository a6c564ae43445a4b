package graft

import org.apache.spark.sql.functions._

/** Dev probe (args: embDir [anchorMod], repeatable): banded sign-LSH
  * recall vs exact-cosine truth, BINNED BY COSINE, for the SCALE ladder
  * runs that verify the declared recall contract
  * ([[operators.Similarity.RecallFloor]] at
  * [[operators.Similarity.RecallTargetCos]]) holds at every rung of the
  * adaptive key ladder — q298 carries the contract in the oracle gate at
  * small n; this probe carries it to corpus sizes where the full O(n²)
  * truth is infeasible.
  *
  * `anchorMod` > 1 switches the truth (and the LSH pair set it is
  * compared against) to anchor-incident pairs via
  * [[operators.Similarity.nearDupPairsAnchored]] — an unbiased pair-recall
  * estimate at n·n/anchorMod cost (use ~100 at n = 200k).
  *
  * Per dir it prints one JSON line with n, the ladder's key width w, the
  * closed-form band count b(w), the cap actually in force, aggregate
  * recall, and per-cosine-bin {n_truth, n_hit, recall, closed_form}
  * where closed_form = 1 − (1 − p^w)^b at the bin's LEFT edge (the
  * worst case inside the bin) — measured bin recall at or above the
  * closed form, and ≥ RecallFloor in the ≥ RecallTargetCos bin, is the
  * pass condition.
  */
object ProbeRecall {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(app = "graft-probe-recall", periodicGC = "10h")
    val threshold = 0.2
    val binEdges = Seq(0.2, 0.3, 0.5, 0.7, 0.8, 0.9)
    // args come as dir [anchorMod] pairs: a bare dir means full truth
    val specs = args.toSeq.foldLeft(Vector.empty[(String, Long)]) {
      case (acc, a) if a.forall(_.isDigit) && acc.nonEmpty =>
        acc.init :+ (acc.last._1 -> a.toLong)
      case (acc, d) => acc :+ (d -> 1L)
    }
    for ((dir, anchorMod) <- specs) {
      val emb = Queries.tbl(spark, dir, "embeddings")
      val n = emb.count()
      val w = VecQueries.lshKeyBits(n)
      val b = operators.Similarity.recallBands(w)
      val truth = operators.Ckpt.local(
        if (anchorMod > 1)
          operators.Similarity.nearDupPairsAnchored(emb, threshold, anchorMod)
        else operators.Similarity.nearDupPairs(emb, threshold))
      val lshAll = operators.Similarity
        .lshNearDupPairs(emb, threshold, keyBits = w)
        .select(col("id_a").as("l_a"), col("id_b").as("l_b"))
      val lsh = operators.Ckpt.local(
        if (anchorMod > 1)
          lshAll.filter(col("l_a") % anchorMod === 0 || col("l_b") % anchorMod === 0)
        else lshAll)
      val bin = binEdges.reverse.tail.foldLeft(
        when(col("cos") >= binEdges.last, lit(binEdges.last))) {
        (acc, e) => acc.when(col("cos") >= e, lit(e))
      }
      val rows = truth
        .join(lsh, col("id_a") === col("l_a") && col("id_b") === col("l_b"), "left")
        .groupBy(bin.as("bin"))
        .agg(count(lit(1)).as("n_truth"),
          coalesce(sum(col("l_a").isNotNull.cast("long")), lit(0L)).as("n_hit"))
        .orderBy("bin")
        .collect()
      def closedForm(cos: Double): Double = {
        val pb = 1.0 - math.acos(cos) / math.Pi
        1.0 - math.pow(1.0 - math.pow(pb, w), b)
      }
      val totT = rows.map(_.getLong(1)).sum
      val totH = rows.map(_.getLong(2)).sum
      val bins = rows.map { r =>
        val (e, t, h) = (r.getDouble(0), r.getLong(1), r.getLong(2))
        f""""$e%.1f":{"n_truth":$t,"n_hit":$h,"recall":${if (t == 0) "null" else f"${h.toDouble / t}%.4f"},"closed_form":${closedForm(e)}%.4f}"""
      }.mkString("{", ",", "}")
      println(
        s"""{"probe":"recall","dir":"$dir","n":$n,"anchor_mod":$anchorMod,""" +
        s""""w":$w,"bands":$b,"cap":${operators.Dedup.DefaultMaxBucket},""" +
        s""""n_truth":$totT,"n_hit":$totH,"recall":${
          if (totT == 0) "null" else f"${totH.toDouble / totT}%.4f"},""" +
        s""""floor":${operators.Similarity.RecallFloor},""" +
        s""""target_cos":${operators.Similarity.RecallTargetCos},"bins":$bins}""")
      operators.Ckpt.release(spark)
    }
    spark.stop()
  }
}
