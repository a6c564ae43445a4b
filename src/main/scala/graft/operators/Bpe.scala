package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units" —
  * the standard LLM tokenizer-training loop).
  *
  * Scale shape — the part that matters at 100 TB: training runs over the
  * DISTINCT-WORD frequency table, never the corpus. The corpus-scale
  * work is exactly one token explode + count shuffle (building the
  * vocabulary); every merge round after that is a vocabulary-grain
  * aggregate (pair counts, partial map-side combined) plus a narrow
  * per-word column rewrite. The driver holds only the merge table itself
  * (k rows, one bounded 1-row collect per round — the same
  * driver-coordination shape as the k-means step). Each round's
  * segmentation is one generation of [[Ckpt.advance]] (a `count` computes
  * it, then the previous one is freed), like [[Dedup.clusters]]' labels,
  * so round r never recomputes rounds 1..r-1 and at most two
  * segmentations are live.
  *
  * Determinism: the argmax pair breaks ties by (count DESC, pair ASC),
  * so the merge sequence is a pure function of the vocabulary.
  */
object Bpe {

  /** Split a word into single-character symbols. */
  def charSyms(w: Column): Column =
    transform(sequence(lit(1), char_length(w)), i => w.substr(i, lit(1)))

  /** Adjacent symbol pairs as "a b" strings — empty for 1-symbol words
    * (Spark's `sequence(1, 0)` would run DESCENDING, so the short-word
    * case must be guarded explicitly). */
  def adjacentPairs(syms: Column): Column =
    when(size(syms) > 1,
      transform(sequence(lit(1), size(syms) - 1),
        i => concat(element_at(syms, i), lit(" "), element_at(syms, i + 1))))
      .otherwise(array().cast("array<string>"))

  /** Apply one merge (a, b) → "ab" greedily left-to-right, non-overlapping
    * (a freshly merged symbol never re-merges within the same pass —
    * standard BPE). Pure fold over the symbol array with literal merge
    * operands; interpreted HOF, but it runs at vocabulary grain. */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === a && x === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Train `k` merges over a (word, freq) vocabulary. Returns the final
    * segmented vocabulary (w, freq, syms) and the merge table
    * (a, b, weighted pair count) in merge order. */
  def train(words: DataFrame, wordCol: String, freqCol: String, k: Int)
      : (DataFrame, Seq[(String, String, Long)]) = {
    var seg = Ckpt.local(words.select(
      col(wordCol).as("w"), col(freqCol).cast("long").as("freq"),
      charSyms(col(wordCol)).as("syms")))
    val merges = Seq.newBuilder[(String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < k && !exhausted) {
      val top = seg
        .select(col("freq"), explode(adjacentPairs(col("syms"))).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
        .orderBy(desc("cnt"), asc("pair"))
        .limit(1)
        .collect()                                     // exactly one row
      if (top.isEmpty) exhausted = true
      else {
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        merges += ((a, b, top(0).getLong(1)))
        seg = Ckpt.advance(seg, seg.withColumn("syms", applyMerge(col("syms"), a, b)))(_.count())._1
      }
      r += 1
    }
    (seg, merges.result())
  }
}
