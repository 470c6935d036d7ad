package graft

import graft.lime.Lime
import graft.lime.Lime.LimeConfig
import graft.operators.LimeOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeAndComment, CodeGenerator}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** Guards on the code Spark generates for LIME's perturb stage: every
  * method stays under HotSpot's 8,000-byte JIT limit (a larger one runs
  * in the bytecode interpreter), and the source text does not depend on
  * the instance set's statistics, so later requests reuse the compiled
  * classes instead of compiling their own.
  */
class LimeCodegenSpec extends SparkSpec {

  private val feats = LimeOps.limeFeatures
  private val cats = Seq("l_returnflag", "l_linestatus")

  /** Two instance sets with different values, held in memory: unlike a
    * filter literal, their rows never appear in the generated code. */
  private lazy val instanceSets: Seq[DataFrame] = {
    val schema = StructType(StructField("instance_id", LongType, nullable = false) +:
      (feats.map(StructField(_, DoubleType)) ++ cats.map(StructField(_, StringType))))
    Seq(1, 2).map { seed =>
      val rnd = new scala.util.Random(seed)
      val rows = (0 until 40).map { i =>
        Row.fromSeq(Seq(seed * 1000L + i) ++ feats.map(_ => rnd.nextDouble() * 100) ++
          Seq(Seq("A", "N", "R")(rnd.nextInt(3)), Seq("F", "O")(rnd.nextInt(2))))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    }
  }

  private def generated(df: DataFrame): Seq[String] =
    df.queryExecution.debug.codegenToSeq().map(_._2)

  for ((discretize, nBins) <- Seq((true, 4), (true, 10), (false, 4))) {
    val mode = if (discretize) s"discretized ($nBins bins)" else "continuous"

    test(s"$mode perturb: every generated method is JIT-sized, source independent of the stats") {
      val cfg = LimeConfig(nSamples = 64, discretize = discretize, nBins = nBins)
      val stats = instanceSets.map(Lime.fitStats(_, feats, nBins, smallInput = true))
      val catStats = instanceSets.map(Lime.fitCatStats(_, cats))
      assert(stats(0) != stats(1) && catStats(0) != catStats(1),
        "instance sets should differ in their stats")
      val code = instanceSets.indices.map { i =>
        generated(Lime.perturb(instanceSets(i), "instance_id", stats(i), cfg, catStats(i)))
      }
      assert(code(0).nonEmpty, "no whole-stage codegen subtree in the perturb plan")
      code(0).foreach { src =>
        val (_, byteCode) = CodeGenerator.compile(new CodeAndComment(src, Map.empty))
        assert(byteCode.maxMethodCodeSize < 8000,
          s"largest generated method is ${byteCode.maxMethodCodeSize} bytes")
      }
      assert(code(0) == code(1), "perturb source text depends on the instance set's stats")
    }
  }

  for (discretize <- Seq(true, false)) {
    // below the lattice gate a discretized result is a local relation,
    // with no generated code; the discretized case runs at deciles
    // (10^4 cells), above the gate, where it keeps the fan-out
    val mode = if (discretize) "discretized" else "continuous"

    test(s"$mode explainTabular: two requests generate identical source") {
      val cfg = LimeConfig(nSamples = 64, discretize = discretize, nBins = if (discretize) 10 else 4)
      // run first: adaptive execution collapses codegen stages as it
      // plans them, so only the executed plan has them
      val code = instanceSets.map { inst =>
        val df = Lime.explainTabular(inst, "instance_id", feats, cfg)
        df.collect()
        generated(df)
      }
      assert(code(0).nonEmpty)
      assert(code(0) == code(1), "explainTabular source text depends on the request")
    }
  }
}
