package graft.lime

import graft.{SparkSpec, Tables}
import graft.lime.Lime.LimeConfig
import graft.operators.LimeOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The explain-time statistics fits (one collect, fitted on the driver)
  * against the corpus fits (aggregate jobs): the same values, bit for
  * bit, nulls included.
  */
class LimeStatsSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val feats = LimeOps.limeFeatures

  private def raw(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def bits(st: Lime.FeatureStats): Seq[Any] =
    Seq(st.name, raw(st.mean), raw(st.std), st.edges.map(raw), st.binMeans.map(raw),
      st.binCumFreqs.map(raw))

  private lazy val lineitems: DataFrame =
    LimeOps.withKey(Tables.lineitem(spark, dir).filter(col("l_orderkey") <= 20))

  test("fitStats: the explain-time fit equals the corpus fit bit for bit, a null numeric in bin 0") {
    val plain = lineitems.select(feats.map(col): _*)
    // one null l_quantity: left out of the sums and edges, counted in
    // bin 0's frequency and mean divisor
    val first = lineitems.agg(min("instance_id")).head().getLong(0)
    val withNull = lineitems.withColumn("l_quantity",
        when(col("instance_id") === first, lit(null).cast("double")).otherwise(col("l_quantity")))
      .select(feats.map(col): _*)
    for (df <- Seq(plain, withNull); nBins <- Seq(4, 10)) {
      val corpus = Lime.fitStats(df, feats, nBins)
      val local = Lime.fitStats(df, feats, nBins, smallInput = true)
      assert(local.map(bits) == corpus.map(bits), s"$nBins bins:\n$local\n$corpus")
    }
    val nulls = Lime.fitStats(withNull, feats, smallInput = true).head
    assert(nulls != Lime.fitStats(plain, feats, smallInput = true).head)
  }

  test("fitCatStatsLocal equals fitCatStats: a null and multi-byte UTF-8 values in byte order") {
    // U+FF21 (EF BC A1 in UTF-8) sorts before U+1F600 (F0 9F 98 80) in
    // bytes, after it in UTF-16 code units
    val values = Seq("b", "Ａ", "😀", null, "a", "é", "b", "😀", null, "b")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(values.map(Row(_)), 3),
      StructType(Seq(StructField("c", StringType))))
    val corpus = Lime.fitCatStats(df, Seq("c"))
    val local = Lime.fitCatStatsLocal(df.collect(), 0, Seq("c"))
    assert(corpus.head.values == Seq(null, "a", "b", "é", "Ａ", "😀"))
    assert(local.map(cs => (cs.name, cs.values, cs.cumFreqs.map(raw))) ==
      corpus.map(cs => (cs.name, cs.values, cs.cumFreqs.map(raw))))
  }

  test("an empty instance set fails at build with fitStats's IllegalArgumentException") {
    val empty = lineitems.filter(lit(false)).select((Seq("instance_id") ++ feats).map(col): _*)
    for (discretize <- Seq(true, false)) {
      val e = intercept[IllegalArgumentException](Lime.explainTabular(empty, "instance_id", feats,
        LimeConfig(nSamples = 16, discretize = discretize)))
      assert(e.getClass == classOf[IllegalArgumentException], s"$e")
      assert(e.getMessage.contains("fitStats: feature l_quantity has no non-null values"), e.getMessage)
    }
  }
}
