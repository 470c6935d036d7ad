package graft.lime

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.feature.GraftAssemblerShim
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Bridge from an MLlib model to the LIME `scoreFn` hook.
  *
  * Wraps any `Transformer` (e.g. a fitted `PipelineModel` or
  * classifier): the perturbed frame's `f__val` columns are swapped in
  * as the model's input features, the model's `.transform` runs
  * distributed over the exploded sample frame (no driver round-trip,
  * no per-row model invocation), and the requested output column
  * becomes `pred`. Original feature columns are restored afterwards so
  * the LIME tail sees the instance values.
  */
object LimeMllib {

  /** @param model fitted transformer expecting `featuresCol`
    * @param features the LIME feature columns (perturbed as `f__val`)
    * @param probabilityIndex index into the probability vector for the
    *   positive class (classifiers); None = use the raw `prediction`
    *   column (regressors)
    */
  def scoreFn(
      model: Transformer,
      features: Seq[String],
      featuresCol: String = "features",
      probabilityIndex: Option[Int] = Some(1)): DataFrame => DataFrame = { df =>
    val orig = features.map(f => f -> s"${f}__orig").toMap
    // one projection swaps the `f__val` columns in as the features and
    // stashes the originals (the model's input column is replaced)
    val stashed = df.select(df.columns.filter(_ != featuresCol).map { c =>
      if (orig.contains(c)) col(s"${c}__val").as(c) else Lime.quoted(c)
    } ++ features.map(f => col(f).as(orig(f))): _*)
    // VectorAssembler's vector and column metadata, by its own function
    // and rule, in a deterministic UDF: the assembler marks its UDF
    // nondeterministic, and a nondeterministic scorer's lattice scores
    // are planned per request (see Lime.explainTabular)
    val assemble = GraftAssemblerShim.assemble(features.size)
    val args = features.map { f =>
      if (stashed.schema(f).dataType == DoubleType) Lime.quoted(f) else Lime.quoted(f).cast(DoubleType)
    }
    val assembled = stashed.select(col("*"),
      udf((r: Row) => assemble(r.toSeq)).apply(struct(args: _*))
        .as(featuresCol, GraftAssemblerShim.metadata(featuresCol, features.map(stashed.schema(_)))))
    val scored = model.transform(assembled)
    val pred = probabilityIndex match {
      case Some(i) => element_at(vector_to_array(col("probability")), i + 1)
      case None => col("prediction").cast("double")
    }
    // and one restores them, drops the model's outputs and adds `pred`
    val dropped = orig.values.toSet ++ Seq(featuresCol, "rawPrediction", "probability",
      "prediction", "pred")
    scored.select(scored.columns.filterNot(dropped).map { c =>
      orig.get(c).fold(Lime.quoted(c))(o => col(o).as(c))
    } :+ pred.as("pred"): _*)
  }
}
