package graft.lime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** LIME for text (SURVEY.md §2.7 lime_explain_text).
  *
  * Public-algorithm semantics (marcotcr/lime lime_text.py): the
  * interpretable representation is presence/absence of each distinct
  * word; perturbed samples delete random word subsets; distance is
  * cosine between the binary bag vectors (sample 0 = full document),
  * ×100 as the public implementation scales it against its kernel width
  * of 25 (unscaled, the kernel is near constant and locality is lost);
  * weighted ridge + top-K tail shared with tabular.
  *
  * Word deletion here is an independent 0.5 keep-probability per
  * (doc, sample, word) from the counter-based RNG — a documented
  * simplification of the public "remove uniform(1,|V|) positions"
  * draw; both produce a symmetric subset neighborhood.
  *
  * The black box is a deterministic hash-sign logistic over kept
  * words — a stand-in scorer (no pretrained text model ships in this
  * environment): a kept word adds its sign, +1 when `xxhash64(word)` is
  * even and −1 otherwise, and a deleted one adds nothing.
  *
  * Each document row regenerates its N samples' keep masks, scores,
  * weighs and folds them in sample order in one expression
  * ([[MaskFold]]): a request is one narrow projection over the
  * documents, with no samples × words rows and no shuffle.
  */
object LimeText {

  import Lime.LimeConfig

  /** vocab per doc: sorted distinct words with stable positions. A word
    * is a lower-cased run of non-whitespace characters; a text with none
    * has an empty vocab.
    */
  def vocab(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        array_sort(array_distinct(filter(split(lower(col(textCol)), "\\s+"), _ =!= ""))).as("vocab"))
      .withColumn("vsize", size(col("vocab")))

  /** Output: (doc_id, rank, word, weight, intercept, r2, local_pred),
    * kFeatures rows per document with at least one word (fewer when it
    * has fewer distinct words); a null or blank text gives no rows. Two
    * documents with one id fail at build with
    * [[Lime.InvalidInstancesException]].
    */
  def explainText(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      cfg: LimeConfig = LimeConfig(nSamples = 256, kFeatures = 10, kernelWidth = Some(25.0))): DataFrame = {
    val sign = transform(col("vocab"),
      w => when(pmod(xxhash64(w), lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0)))
    Lime.explainMasks[String](vocab(docs, idCol, textCol).filter(col("vsize") > 0),
      struct(col("vocab"), sign, array_repeat(lit(0.0), col("vsize")), col("vsize")),
      col("vocab"), "word", cfg)
  }
}
