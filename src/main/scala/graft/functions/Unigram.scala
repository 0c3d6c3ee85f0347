package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.NativeColumns

/** Unigram-LM tokenizer TRAINING (the SentencePiece family, Kudo 2018) —
  * the cost-model sibling of [[Bpe]]: where BPE ranks substrings by raw
  * frequency and applies them greedily, the unigram model assigns each
  * candidate token a probability, segments by MINIMUM total cost
  * (Viterbi, [[graft.functions.expressions.UnigramTokenize]]), and
  * re-estimates probabilities from its own segmentation — hard EM:
  *
  *   round 0: candidates = every character (coverage) + the top-`cands`
  *     substrings of length 2..`maxLen` by occurrence-weighted count;
  *     p₀(t) = cnt(t) / Σ cnt.
  *   round 1: Viterbi-segment the corpus vocabulary under p₀; recount
  *     tokens by their USE; drop unused multi-character candidates (the
  *     EM prune); add-one smooth and renormalize → p₁, the final model.
  *
  * Every probability lives as an integer millibit cost
  * `floor(-log2 p * 1000)` computed IN-PLAN by Spark's `log2` (the
  * [[graft.quality.Scoring]] `floor(log2·K)` residual-assumption idiom:
  * cross-engine exactness holds while both engines' log2 land in the same
  * 1e-3 cell), so every downstream DP comparison is exact integer
  * arithmetic; the DuckDB oracle re-derives BOTH training rounds — counts,
  * costs, the window-carry Viterbi recursion, the recount — from scratch.
  *
  * Training cost at 100 TB: two substring-count exchanges over the
  * DISTINCT-WORD frame (Zipf-small) + one Viterbi projection over it +
  * two ≤(chars+cands)-row collects — the train-tiny-model-then-broadcast
  * shape of [[Bpe.trainVocab]] and the IVF centroids.
  */
object Unigram {

  /** Train the model over `docs(textCol)`: returns (token, id, cost_m) —
    * singles first (Spark lexicographic order, matching the oracle's
    * ORDER BY tok), then surviving multi-character tokens. Driver-side by
    * design — it IS the model.
    */
  def trainModel(
      docs: DataFrame,
      textCol: String,
      maxLen: Int = 4,
      cands: Int = 400): Seq[(String, Int, Long)] = {
    require(maxLen >= 2, "maxLen must be >= 2 (singles are always included)")
    require(cands >= 0, "cands must be >= 0")
    val spark = docs.sparkSession
    val wcnt = docs.select(explode(Text.words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val subs = (1 to maxLen).map { l =>
      wcnt.filter(length(col("w")) >= l)
        .select(col("wc"), explode(transform(
          sequence(lit(1), length(col("w")) - (l - 1)),
          i => col("w").substr(i, lit(l)))).as("tok"))
    }
    val cnt0 = subs.reduce(_ unionByName _).groupBy("tok").agg(sum("wc").as("cnt"))
    val singles0 = cnt0.filter(length(col("tok")) === 1)
    val multis0 = cnt0.filter(length(col("tok")) >= 2)
      .orderBy(col("cnt").desc, col("tok").asc).limit(cands)
    val cand0 = singles0.unionByName(multis0)
    // round-0 costs: total over the candidate frame rides a full-range
    // window (no driver scalar, no 1-row join), log2 quantizes in-plan
    val fullW = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val costed0 = cand0
      .withColumn("__tot", sum("cnt").over(fullW))
      .select(col("tok"), length(col("tok")).as("__len"),
        floor(-log2(col("cnt").cast("double") / col("__tot").cast("double"))
          * lit(1000.0)).cast("long").as("cost"))
    val s0 = costed0.filter(col("__len") === 1)
      .orderBy(col("tok").asc).select("tok", "cost")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val m0 = costed0.filter(col("__len") >= 2)
      .orderBy(col("tok").asc).select("tok", "cost")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (s0.isEmpty) return Seq.empty // empty corpus: empty model
    val model0 = (s0 ++ m0).zipWithIndex.map { case ((t, c), i) => (t, i, c) }.toSeq

    // round 1 (hard EM): Viterbi-segment the distinct words under the
    // round-0 model, recount tokens by USE (occurrence-weighted)
    val cnt1 = wcnt
      .withColumn("__st", NativeColumns.unigramTokenize(array(col("w")), model0, maxLen))
      .select(col("wc"), explode(col("__st.ids")).as("id"))
      .groupBy("id").agg(sum("wc").as("cnt1"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // keep every single (coverage) + used multis; add-one smooth all kept
    val nSingles = s0.length
    val kept = model0.filter { case (_, id, _) => id < nSingles || cnt1.getOrElse(id, 0L) > 0L }
    val cntp = kept.map { case (t, id, _) => (t, cnt1.getOrElse(id, 0L) + 1L) }
    val total1 = cntp.map(_._2).sum
    // final costs through the SAME in-plan log2 idiom (a driver-side
    // Math.log would be a third libm variant — the plan's is the one the
    // oracle assumption covers)
    val costed1 = spark.createDataFrame(cntp).toDF("tok", "c")
      .select(col("tok"),
        floor(-log2(col("c").cast("double") / lit(total1).cast("double"))
          * lit(1000.0)).cast("long").as("cost"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ids: singles first then kept multis, both in the round-0 (Spark
    // lexicographic) order — `kept` preserves it
    kept.zipWithIndex.map { case ((t, _, _), i) => (t, i, costed1(t)) }.toSeq
  }

  /** struct(n_tokens, id_checksum, ids) of `textCol` under `model` — one
    * Viterbi projection, no shuffle.
    */
  def tokenize(textCol: Column, model: Seq[(String, Int, Long)], maxLen: Int = 4): Column =
    NativeColumns.unigramTokenize(Text.words(textCol), model, maxLen)
}
