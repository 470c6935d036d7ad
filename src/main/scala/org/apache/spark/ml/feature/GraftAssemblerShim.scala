package org.apache.spark.ml.feature

import org.apache.spark.ml.attribute.{Attribute, AttributeGroup, NumericAttribute, UnresolvedAttribute}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.types.{DoubleType, Metadata, StructField}

/** Bridge to `VectorAssembler`'s row assembly, which is private[feature]
  * in Spark 4, so the accessor lives in this package. No Spark
  * internals are modified.
  */
object GraftAssemblerShim {

  /** The vector `VectorAssembler` with `handleInvalid = "error"` makes of
    * `n` numeric columns' values: the same function, so the same vector
    * (dense or sparse, as `compressed` picks) and the same exception on
    * a null or NaN. */
  def assemble(n: Int): Seq[Any] => Vector = {
    val lengths = Array.fill(n)(1)
    vv => VectorAssembler.assemble(lengths, keepInvalid = false)(vv: _*)
  }

  /** The metadata `VectorAssembler` gives its output column `outputCol`
    * over the numeric input columns `inputs`, by its rule: an attribute
    * group with one attribute per input, a double column's own ML
    * attribute when it has one, else a numeric attribute, each named
    * after its column. */
  def metadata(outputCol: String, inputs: Seq[StructField]): Metadata =
    new AttributeGroup(outputCol, inputs.map { f =>
      (if (f.dataType != DoubleType) UnresolvedAttribute else Attribute.fromStructField(f)) match {
        case UnresolvedAttribute => NumericAttribute.defaultAttr.withName(f.name)
        case a => a.withName(f.name)
      }
    }.toArray).toMetadata()
}
