package graft

import graft.lime._
import graft.lime.Lime.LimeConfig
import graft.operators.LimeOps
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.unsafe.types.UTF8String

class LimeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("ridge aggregator recovers a known linear function") {
    val agg = new RidgeAggregator(2, 1.0)
    var buf = agg.zero
    // y = 1 + 2*z1 - 3*z2 on all 4 corners, many times, weight 1
    val corners = Seq((0.0, 0.0), (0.0, 1.0), (1.0, 0.0), (1.0, 1.0))
    for (_ <- 1 to 500; (z1, z2) <- corners)
      buf = agg.reduce(buf, RidgeSample(Array(z1, z2), 1.0 + 2.0 * z1 - 3.0 * z2, 1.0))
    val fit = agg.finish(buf)
    assert(math.abs(fit.coefs(0) - 2.0) < 0.02, s"coef1 ${fit.coefs(0)}")
    assert(math.abs(fit.coefs(1) + 3.0) < 0.02, s"coef2 ${fit.coefs(1)}")
    assert(math.abs(fit.intercept - 1.0) < 0.02, s"intercept ${fit.intercept}")
    assert(fit.r2 > 0.999, s"r2 ${fit.r2}")
    assert(math.abs(fit.localPred - (1.0 + 2.0 - 3.0)) < 0.05)
  }

  test("ridge aggregator survives collinear features (jitter fallback)") {
    val agg = new RidgeAggregator(2, 0.0) // λ=0 exposes the singularity
    var buf = agg.zero
    for (i <- 1 to 100) {
      val z = if (i % 2 == 0) 1.0 else 0.0
      buf = agg.reduce(buf, RidgeSample(Array(z, z), z * 5.0, 1.0)) // z1 == z2
    }
    val fit = agg.finish(buf)
    assert(!fit.coefs.exists(_.isNaN) && !fit.intercept.isNaN)
  }

  test("counter-based RNG: partition-layout independent, sane gaussian moments") {
    val s = spark
    import s.implicits._
    def draws(parts: Int) =
      s.range(0, 2000).repartition(parts)
        .withColumn("g", Rng.gaussian(lit(42L), col("id"), lit(0)))
        .select("id", "g").as[(Long, Double)].collect().toMap
    val a = draws(2)
    val b = draws(13)
    assert(a == b, "gaussian draws depend on partitioning")
    val vals = a.values.toSeq
    val mean = vals.sum / vals.size
    val std = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / (vals.size - 1))
    assert(math.abs(mean) < 0.05, s"mean $mean")
    assert(math.abs(std - 1.0) < 0.05, s"std $std")
    // kernel properties: π(0)=1, π ∈ (0,1]
    val k = s.range(0, 100).select(Lime.kernel(col("id").cast("double") / 10.0, 6.0).as("k"))
      .as[Double].collect()
    assert(math.abs(k(0) - 1.0) < 1e-12 && k.forall(x => x > 0 && x <= 1.0))
  }

  test("gaussian draws: pinned raw bits in all three Acklam regions, codegen == interpreted") {
    val s = spark
    import s.implicits._
    // doubleToRawLongBits of Rng.gaussian(42, id, 0) as the Column-built
    // Φ⁻¹ produced them before the scalar kernel replaced it; the ids
    // cover the lower tail, the central region and the upper tail
    val pinned = Seq(
      108L -> 0xc000f1db61f3232dL, 156L -> 0xc0065d28f0bcefa2L,
      172L -> 0xc00102c04507242bL, 191L -> 0xc0016900cea7b3d9L,
      0L -> 0xbfed797bce931f56L, 1L -> 0x3ff22d8f1e371ca2L,
      2L -> 0x3fd5b659c34782a4L, 4L -> 0x3fd86a4bb967c661L,
      3L -> 0x4006dbafac353614L, 44L -> 0x40003af2d078eecfL,
      47L -> 0x4001eab7baf096a6L, 81L -> 0x4002a9b4b3355a38L)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    def draws(n: Long): Map[Long, (Double, Double)] =
      s.range(0, n)
        .select(col("id"), Rng.u01(lit(42L), col("id"), lit(0)).as("u"),
          Rng.gaussian(lit(42L), col("id"), lit(0)).as("g"))
        .as[(Long, Double, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    val cg = draws(20000)
    val us = pinned.map(p => cg(p._1)._1)
    assert(us.exists(_ < 0.02425) && us.exists(_ > 0.97575) &&
      us.exists(u => u >= 0.02425 && u <= 0.97575), s"pinned ids miss a region: $us")
    pinned.foreach { case (id, want) =>
      val got = bits(cg(id)._2)
      assert(got == want, f"id $id: bits 0x$got%x, pinned 0x$want%x")
    }
    // the interpreted path (no whole-stage codegen, interpreted
    // expression evaluation) and the scalar kernel called directly
    // agree with the generated code bit-for-bit
    val conf = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val interp =
      try { conf.foreach { case (k, v) => s.conf.set(k, v) }; draws(20000) }
      finally conf.foreach { case (k, _) => s.conf.unset(k) }
    assert(interp.size == cg.size)
    cg.foreach { case (id, (u, g)) =>
      assert(bits(interp(id)._2) == bits(g), s"id $id: interpreted ${interp(id)._2} vs codegen $g")
      assert(bits(Rng.phiInv(u)) == bits(g), s"id $id: phiInv($u) vs codegen $g")
    }
  }

  test("ridge buffer sums equal a hand-reduced RidgeAggregator buffer bit-for-bit") {
    // one partition, so the SQL sums and the hand fold see each
    // instance's rows in the same order
    val d = 3
    val rows = spark.range(0, 900, 1, 1).select(
      (col("id") % 7).as("instance_id"),
      array((0 until d).map(j => Rng.gaussian(lit(5L), col("id"), lit(j))): _*).as("z"),
      Rng.gaussian(lit(6L), col("id")).as("y"),
      Rng.u01(lit(7L), col("id")).as("w"))
    val (sums, buffer) = Lime.ridgeBuffer(d)
    val agg = new RidgeAggregator(d, 1.0)
    val viaSql = rows.groupBy("instance_id").agg(sums.head, sums.tail: _*)
      .select(col("instance_id"), buffer).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val byHand = rows.collect().groupBy(_.getLong(0)).map { case (id, rs) =>
      id -> agg.merge(agg.zero, rs.foldLeft(agg.zero)((b, r) =>
        agg.reduce(b, RidgeSample(r.getSeq[Double](1).toArray, r.getDouble(2), r.getDouble(3)))))
    }
    assert(viaSql.keySet == byHand.keySet && viaSql.size == 7)
    def bits(a: Array[Double]) = a.map(java.lang.Double.doubleToRawLongBits).toSeq
    byHand.foreach { case (id, buf) =>
      assert(viaSql(id).length == buf.length, s"instance $id: buffer length")
      assert(bits(viaSql(id)) == bits(buf), s"instance $id: SQL buffer differs from RidgeAggregator")
    }
  }

  test("explainTabular: deterministic across runs, sensible surrogate") {
    val run1 = LimeOps.limeExplainTabular(spark, dir).collect()
    val run2 = LimeOps.limeExplainTabular(spark, dir).collect()
    assert(run1.length == run2.length && run1.length > 0)
    run1.zip(run2).foreach { case (r1, r2) =>
      assert(r1.getLong(0) == r2.getLong(0) && r1.getString(2) == r2.getString(2))
      assert(math.abs(r1.getDouble(3) - r2.getDouble(3)) < 1e-9, "weights drifted")
    }
    // the surrogate should fit the smooth logistic well locally
    val r2s = run1.map(_.getDouble(5))
    assert(r2s.forall(v => v <= 1.0 + 1e-9), "r2 > 1")
  }

  test("explainTabular with an MLlib black box (transform scorer)") {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.VectorAssembler
    val s = spark
    val feats = LimeOps.limeFeatures
    val li = LimeOps.withKey(Tables.lineitem(s, dir).limit(2000))
      .withColumn("label", (col("l_discount") > 0.05).cast("double"))
    val asm = new VectorAssembler().setInputCols(feats.toArray).setOutputCol("features")
    val model = new LogisticRegression().setMaxIter(20).fit(asm.transform(li))
    val scoreFn = LimeMllib.scoreFn(model, feats)
    val expl = Lime.explainTabular(
      li.filter(col("l_orderkey") <= 5).select((Seq("instance_id") ++ feats).map(col): _*),
      "instance_id", feats, LimeConfig(nSamples = 256, kFeatures = 4), Some(scoreFn))
      .collect()
    assert(expl.nonEmpty)
    // the model's dominant signal is l_discount; it should usually rank first
    val topFeatures = expl.filter(_.getInt(1) == 1).map(_.getString(2))
    assert(topFeatures.count(_ == "l_discount") * 2 > topFeatures.length,
      s"l_discount should dominate: ${topFeatures.mkString(",")}")
  }

  test("explainTabular rows come back in (instance_id, rank) order, AQE on and off") {
    // more instances than shuffle partitions, spread over several input
    // partitions: the single sorted output partition must give exactly
    // the rows and order of a global sort
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val feats = LimeOps.limeFeatures
    // ids by position: the fixture's (orderkey, linenumber) pairs repeat
    val rows = Tables.lineitem(spark, dir).filter(col("l_orderkey") <= 40)
      .select(feats.map(f => col(f).cast("double")): _*).collect()
      .zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq) }
    assert(rows.length > spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val schema = StructType(StructField("instance_id", LongType, nullable = false) +:
      feats.map(StructField(_, DoubleType)))
    val inst = spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 5), schema)
    def bits(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case x => x
    })
    for (aqe <- Seq("true", "false"); discretize <- Seq(true, false)) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val df = Lime.explainTabular(inst, "instance_id", feats,
          LimeConfig(nSamples = 128, discretize = discretize))
        val got = df.collect()
        assert(got.length == rows.length * 4)
        assert(bits(got) == bits(df.orderBy("instance_id", "rank").collect()),
          s"AQE $aqe, discretize $discretize: rows out of (instance_id, rank) order")
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("forward selection keeps exactly K features, dominant signal first") {
    val feats = LimeOps.limeFeatures
    val inst = LimeOps.withKey(Tables.lineitem(spark, dir).filter(col("l_orderkey") <= 10))
      .select((Seq("instance_id") ++ feats).map(col): _*)
    val fwd = Lime.explainTabular(inst, "instance_id", feats,
      LimeConfig(nSamples = 256, kFeatures = 2, selection = "forward_selection")).collect()
    assert(fwd.nonEmpty)
    // rank<=2 rows carry the 2 selected (nonzero) features; nothing else
    fwd.foreach(r => assert(r.getDouble(3) != 0.0, s"zero weight at rank ${r.getInt(1)}"))
    val fwd2 = Lime.explainTabular(inst, "instance_id", feats,
      LimeConfig(nSamples = 256, kFeatures = 2, selection = "forward_selection")).collect()
    assert(fwd.map(_.toString).toSeq == fwd2.map(_.toString).toSeq)
    // "auto" with d'=4 <= 6 must take the forward-selection path
    val auto = Lime.explainTabular(inst, "instance_id", feats,
      LimeConfig(nSamples = 256, kFeatures = 2, selection = "auto")).collect()
    assert(auto.map(_.toString).toSeq == fwd.map(_.toString).toSeq)
  }

  test("selection='none' keeps every feature regardless of kFeatures") {
    val feats = LimeOps.limeFeatures
    val inst = LimeOps.withKey(Tables.lineitem(spark, dir).filter(col("l_orderkey") <= 5))
      .select((Seq("instance_id") ++ feats).map(col): _*)
    val all = Lime.explainTabular(inst, "instance_id", feats,
      LimeConfig(nSamples = 128, kFeatures = 2, selection = "none")).collect()
    val perInstance = all.groupBy(_.getLong(0)).values
    assert(perInstance.nonEmpty)
    perInstance.foreach(rows =>
      assert(rows.length == feats.length, s"expected all ${feats.length} features, got ${rows.length}"))
  }

  test("continuous (non-discretized) mode: deterministic, strong local fit") {
    val feats = LimeOps.limeFeatures
    val inst = LimeOps.withKey(Tables.lineitem(spark, dir).filter(col("l_orderkey") <= 10))
      .select((Seq("instance_id") ++ feats).map(col): _*)
    val cfg = LimeConfig(nSamples = 512, kFeatures = 4, discretize = false)
    val run1 = Lime.explainTabular(inst, "instance_id", feats, cfg).collect()
    val run2 = Lime.explainTabular(inst, "instance_id", feats, cfg).collect()
    assert(run1.length == run2.length && run1.nonEmpty)
    run1.zip(run2).foreach { case (a, b) =>
      assert(a.getString(2) == b.getString(2))
      assert(math.abs(a.getDouble(3) - b.getDouble(3)) < 1e-9)
    }
    // the scorer is logistic in the z-scored features: a local linear
    // surrogate on the same representation should fit very well
    val r2s = run1.map(_.getDouble(5))
    assert(r2s.forall(v => v > 0.5 && v <= 1.0 + 1e-9), s"r2s ${r2s.min}")
  }

  test("categorical features: frequency-resampled, dominant cat ranks first") {
    val e1 = LimeOps.limeExplainCat(spark, dir).collect()
    val e2 = LimeOps.limeExplainCat(spark, dir).collect()
    assert(e1.nonEmpty && e1.map(_.toString).toSeq == e2.map(_.toString).toSeq)
    // For instances whose returnflag IS 'R', z=1 carries the scorer's
    // +1.5 signal vs the resample mixture, so l_returnflag should rank
    // in the top 2 with a positive weight. (For non-'R' instances the
    // indicator only carries the small mixture effect — no claim.)
    val rIds = LimeOps.withKey(Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") <= 10 && col("l_returnflag") === "R"))
      .select("instance_id").collect().map(_.getLong(0)).toSet
    assert(rIds.nonEmpty, "fixture needs at least one 'R' instance")
    val byInst = e1.groupBy(_.getLong(0))
    val rfRows = rIds.toSeq.map(id => byInst(id).find(_.getString(2) == "l_returnflag").get)
    // individual instances can sit in logistic saturation (p ≈ 1 →
    // near-zero local sensitivity), so assert in aggregate: mean
    // weight clearly positive and a top-2 majority
    val ws = rfRows.map(_.getDouble(3))
    assert(ws.sum / ws.length > 0.01, s"mean returnflag weight ${ws.sum / ws.length}")
    assert(rfRows.count(_.getInt(1) <= 2) * 2 >= rfRows.length,
      s"ranks: ${rfRows.map(_.getInt(1)).mkString(",")}")
  }

  test("explainTabular rejects duplicate instance ids at build, by name") {
    val feats = LimeOps.limeFeatures
    // the registry id l_orderkey*10 + l_linenumber repeats in the fixture
    val li = Tables.lineitem(spark, dir).filter(col("l_orderkey") <= 10)
      .withColumn("instance_id", col("l_orderkey") * 10 + col("l_linenumber"))
    val dup = li.select((Seq("instance_id") ++ feats).map(col): _*)
    assert(dup.select("instance_id").distinct().count() < dup.count())
    intercept[Lime.InvalidInstancesException](
      Lime.explainTabular(dup, "instance_id", feats, LimeConfig(nSamples = 16)))
    // an int-typed feature is collected as a double, and checked the same way
    val dupInt = li.select((Seq("instance_id", "l_linenumber") ++ feats.tail).map(col): _*)
    intercept[Lime.InvalidInstancesException](
      Lime.explainTabular(dupInt, "instance_id", "l_linenumber" +: feats.tail,
        LimeConfig(nSamples = 16)))
  }

  test("explainText and explainImage reject duplicate document ids at build") {
    val s = spark
    import s.implicits._
    val cfg = LimeConfig(nSamples = 64, kFeatures = 3, kernelWidth = Some(25.0))
    val docs = Seq((1L, "red fox"), (1L, "blue whale jumps")).toDF("doc_id", "text")
    val e = intercept[Lime.InvalidInstancesException](
      LimeText.explainText(docs, "doc_id", "text", cfg))
    assert(e.getMessage.contains("instance id 1 "), e.getMessage)
    val bb = java.nio.ByteBuffer.allocate(4 * 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 16).foreach(i => bb.putFloat(i - 7.5f))
    val images = Seq((2L, bb.array()), (2L, bb.array())).toDF("doc_id", "payload")
    intercept[Lime.InvalidInstancesException](LimeImage.explainImage(images))
  }

  test("continuous mode rejects a null numeric feature at build, by name") {
    val feats = LimeOps.limeFeatures
    val inst = LimeOps.withKey(Tables.lineitem(spark, dir).filter(col("l_orderkey") <= 5))
      .select((Seq("instance_id") ++ feats).map(col): _*)
    val first = inst.agg(min("instance_id")).head().getLong(0)
    val withNull = inst.withColumn("l_quantity",
      when(col("instance_id") === first, lit(null).cast("double")).otherwise(col("l_quantity")))
    val e = intercept[Lime.InvalidInstancesException](
      Lime.explainTabular(withNull, "instance_id", feats, LimeConfig(nSamples = 16, discretize = false)))
    assert(e.getMessage.contains("l_quantity"))
    // discretized mode still puts the null in bin 0
    assert(Lime.explainTabular(withNull, "instance_id", feats, LimeConfig(nSamples = 16))
      .collect().length == inst.count() * 4)
  }

  test("a null categorical value is a category of its own") {
    val numFeats = Seq("l_quantity", "l_discount")
    val catFeats = Seq("l_returnflag", "l_linestatus")
    val inst = LimeOps.withKey(Tables.lineitem(spark, dir).filter(col("l_orderkey") <= 10))
      .select((Seq("instance_id") ++ numFeats ++ catFeats).map(col): _*)
    val first = inst.agg(min("instance_id")).head().getLong(0)
    val withNull = inst.withColumn("l_returnflag",
      when(col("instance_id") === first, lit(null).cast("string")).otherwise(col("l_returnflag")))
    val cs = Lime.fitCatStats(withNull, Seq("l_returnflag")).head
    assert(cs.values == Seq(null, "A", "N", "R"), s"${cs.values}")
    for (discretize <- Seq(true, false)) {
      val rows = Lime.explainTabular(withNull, "instance_id", numFeats,
        LimeConfig(nSamples = 64, discretize = discretize), None, catFeats).collect()
      assert(rows.length == inst.count() * 4)
      assert(rows.forall(r => !r.getDouble(3).isNaN && !r.getDouble(6).isNaN))
    }
  }

  test("explainText: deterministic, word weights align with hash-sign scorer") {
    val e1 = LimeOps.limeExplainText(spark, dir).collect()
    val e2 = LimeOps.limeExplainText(spark, dir).collect()
    assert(e1.length == e2.length && e1.nonEmpty)
    e1.zip(e2).foreach { case (a, b) => assert(a.getString(2) == b.getString(2)) }
    // the stand-in adds +1 for each kept word whose xxhash64 is even and
    // -1 for the others, so each returned word's weight has that sign
    val s = spark
    import s.implicits._
    val sign = e1.map(_.getString(2)).distinct.toSeq.toDF("word")
      .select(col("word"), when(pmod(xxhash64(col("word")), lit(2)) === 0, 1.0).otherwise(-1.0))
      .as[(String, Double)].collect().toMap
    e1.foreach { r =>
      assert(math.signum(r.getDouble(3)) == sign(r.getString(2)),
        s"doc ${r.getLong(0)}: word '${r.getString(2)}' has weight ${r.getDouble(3)}, " +
          s"hash sign ${sign(r.getString(2))}")
    }
  }

  test("explainText and explainImage on degenerate inputs: null, empty and all-space text, an empty image") {
    val s = spark
    import s.implicits._
    // a word is a run of non-whitespace: a null, empty or all-space text
    // has no words and gives no rows, and a run of spaces separates
    // words like one space. The expected values are maskReference's.
    val docs = Seq[(Long, String)]((1L, null), (2L, ""), (3L, "   "), (4L, "b a  b"), (5L, "x"))
      .toDF("doc_id", "text")
    val text = LimeText.explainText(docs, "doc_id", "text",
      LimeConfig(nSamples = 64, kFeatures = 10, kernelWidth = Some(25.0))).collect()
    val wantText = Seq(
      Seq(4L, 1, "a", 0.14860762713949965, 0.4986452502210176, 0.9835263006800007, 0.49993185348992214),
      Seq(4L, 2, "b", -0.14732102387059515, 0.4986452502210176, 0.9835263006800007, 0.49993185348992214),
      Seq(5L, 1, "x", -0.002453210876840807, 0.27147129508673706, 0.021121809823387183, 0.26901808420989626))
    assert(rowBits(text.toSeq.map(_.toSeq)) == rowBits(wantText), text.mkString("\n"))
    // the image weights were computed with the ridge terms summed in
    // another order, hence the tolerance
    def near(got: Double, want: Double) = math.abs(got - want) <= 1e-9 * math.abs(want)
    // a zero-byte payload decodes to no pixels and gives no rows
    val bb = java.nio.ByteBuffer.allocate(4 * 16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 16).foreach(i => bb.putFloat(i - 7.5f))
    val images = Seq((1L, Array.emptyByteArray), (2L, bb.array())).toDF("doc_id", "payload")
    assert(LimeImage.explainImage(images.filter(col("doc_id") === 1)).collect().isEmpty)
    val image = LimeImage.explainImage(images).collect()
    val wantImage = Seq(
      (2L, 1, 0, -0.048945766827911234), (2L, 2, 1, 4.7951944440033096e-4),
      (2L, 3, 3, -3.645364319372958e-4), (2L, 4, 2, -1.4589553099871745e-5))
    assert(image.length == wantImage.length, image.mkString("\n"))
    image.zip(wantImage).foreach { case (r, (id, rank, spix, w)) =>
      assert(r.getLong(0) == id && r.getInt(1) == rank && r.getInt(2) == spix, s"$r")
      assert(near(r.getDouble(3), w) && near(r.getDouble(4), 0.07282420289176901) &&
        near(r.getDouble(5), 0.994640188135374) && near(r.getDouble(6), 0.02397882952322094), s"$r")
    }
  }

  /** Local recompute of text and image explanations: each row's
    * samples regenerated with the scalar RNG twins, scored by the
    * stand-in and weighed by the kernel, reduced with RidgeAggregator in
    * sample order and ranked by |weight|, ties by feature index. Returns
    * (id, rank, feature, weight, intercept, r2, local_pred) rows. */
  private def maskReference(id: Long, idHash: Long, tags: Seq[Any], kept: Seq[Double],
                            masked: Seq[Double], n: Int, cfg: LimeConfig): Seq[Seq[Any]] = {
    val d = kept.length
    val width = cfg.kernelWidth.get
    val agg = new RidgeAggregator(d, cfg.lambda)
    var buf = agg.zero
    for (smp <- 0 until cfg.nSamples) {
      val z = tags.map {
        case _ if smp == 0 => 1.0
        case w: String => if (Rng.u01(idHash, smp, UTF8String.fromString(w)) < 0.5) 1.0 else 0.0
        case j: Int => if (Rng.u01(idHash, smp, j) < 0.5) 1.0 else 0.0
      }.toArray
      var lin = 0.0
      z.indices.foreach(j => lin += z(j) * kept(j) + (1.0 - z(j)) * masked(j))
      val y = 1.0 / (1.0 + StrictMath.exp(-lin / math.sqrt(n.toDouble)))
      val dist = (1.0 - math.sqrt(z.sum / d)) * 100.0
      buf = agg.reduce(buf, RidgeSample(z, y, math.sqrt(StrictMath.exp(-dist * dist / (width * width)))))
    }
    val fit = agg.finish(buf)
    (0 until d).sortBy(j => (-math.abs(fit.coefs(j)), j)).take(cfg.kFeatures).zipWithIndex.map {
      case (j, i) => Seq(id, i + 1, tags(j), fit.coefs(j), fit.intercept, fit.r2, fit.localPred)
    }
  }

  private def rowBits(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = rows.map(_.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case x => x
  })

  test("explainText and explainImage equal a local RidgeAggregator recompute bit for bit, on any partitioning") {
    val s = spark
    import s.implicits._
    // the integer-tag RNG twin the image fold draws with
    val u = s.range(0, 300).select(xxhash64(lit(9L), col("id")), col("id").cast("int"),
        Rng.u01(lit(9L), col("id"), (col("id") % 7).cast("int"), (col("id") % 16).cast("int")))
      .as[(Long, Int, Double)].collect()
    u.foreach { case (h, i, want) =>
      assert(java.lang.Double.doubleToRawLongBits(Rng.u01(h, i % 7, i % 16)) ==
        java.lang.Double.doubleToRawLongBits(want), s"id $i")
    }

    val textCfg = LimeConfig(nSamples = 64, kFeatures = 10, kernelWidth = Some(25.0))
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 5).select("doc_id", "text")
    val vocab = LimeText.vocab(docs, "doc_id", "text")
      .select(col("doc_id"), col("vocab"), xxhash64(lit(textCfg.seed), col("doc_id")),
        transform(col("vocab"), w => when(pmod(xxhash64(w), lit(2)) === 0, 1.0).otherwise(-1.0)))
      .as[(Long, Seq[String], Long, Seq[Double])].collect()
    val textWant = vocab.sortBy(_._1).toSeq.flatMap { case (id, words, h, sign) =>
      maskReference(id, h, words, sign, sign.map(_ => 0.0), words.size, textCfg)
    }
    assert(textWant.nonEmpty)

    val imageCfg = LimeConfig(nSamples = 128, kFeatures = 5, kernelWidth = Some(25.0))
    val images = Tables.embeddings(spark, dir).filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
      .map { case (id, v) =>
        val bb = java.nio.ByteBuffer.allocate(4 * v.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        v.foreach(bb.putFloat)
        (id, bb.array())
      }.sortBy(_._1).toSeq
    val imageWant = images.flatMap { case (id, payload) =>
      val x = LimeImage.f32le(payload)
      val labels = LimeImage.gridSegment(x, math.sqrt(x.length.toDouble).toInt, 1)
      val nSeg = labels.max + 1
      val kept = (0 until nSeg).map(sg => x.indices.filter(labels(_) == sg)
        .foldLeft(0.0)((acc, p) => acc + LimeImage.pixelSign(p) * x(p)))
      val masked = (0 until nSeg).map { sg =>
        val ps = x.indices.filter(labels(_) == sg)
        ps.foldLeft(0.0)((acc, p) => acc + x(p)) / ps.size *
          ps.foldLeft(0.0)((acc, p) => acc + LimeImage.pixelSign(p))
      }
      val h = s.range(1).select(xxhash64(lit(imageCfg.seed), lit(id))).as[Long].head()
      maskReference(id, h, 0 until nSeg, kept, masked, x.length, imageCfg)
    }

    for (parts <- Seq(1, 5); aqe <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      try {
        val text = LimeText.explainText(
          spark.createDataFrame(docs.rdd.repartition(parts), docs.schema), "doc_id", "text", textCfg)
        assert(rowBits(text.collect().toSeq.map(_.toSeq)) == rowBits(textWant),
          s"text, $parts partitions, AQE $aqe")
        val image = LimeImage.explainImage(images.toDF("doc_id", "payload").repartition(parts), imageCfg)
        assert(rowBits(image.collect().toSeq.map(_.toSeq)) == rowBits(imageWant),
          s"image, $parts partitions, AQE $aqe")
      } finally spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("explainImage: deterministic, recovers the dominant superpixel") {
    val e1 = LimeOps.limeExplainImage(spark, dir).collect()
    val e2 = LimeOps.limeExplainImage(spark, dir).collect()
    assert(e1.nonEmpty && e1.length == e2.length)
    e1.zip(e2).foreach { case (a, b) => assert(a.toString == b.toString) }
    // 5 probe images × top-5 superpixels, ranks 1..5, spix ∈ [0, 16)
    assert(e1.map(_.getLong(0)).distinct.length == 5)
    e1.groupBy(_.getLong(0)).values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
    }
    assert(e1.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 16))
    // planted-signal recovery: the black box is linear, so each
    // superpixel's true masking effect is |c_kept − c_masked| (the
    // score delta when it is hidden); LIME's top-1 per image must be
    // the ground-truth argmax, recomputed here from the raw pixels
    // with the same sign function and grid rule
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .filter("vec_id < 5")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toMap
    def segOf(p: Int): Int = (p / 8 / 2) * 4 + (p % 8 / 2)
    e1.filter(_.getInt(1) == 1).foreach { r =>
      val x = vecs(r.getLong(0))
      val eff = Array.fill(16)(0.0)
      val sx = Array.fill(16)(0.0); val ss = Array.fill(16)(0.0)
      for (p <- x.indices) {
        val s = segOf(p)
        eff(s) += graft.lime.LimeImage.pixelSign(p) * x(p)
        sx(s) += x(p); ss(s) += graft.lime.LimeImage.pixelSign(p)
      }
      val delta = (0 until 16).map(s => math.abs(eff(s) - sx(s) / 4.0 * ss(s)))
      val truth = delta.zipWithIndex.maxBy(t => (t._1, -t._2))._2
      assert(r.getInt(2) == truth,
        s"image ${r.getLong(0)}: LIME top-1 spix ${r.getInt(2)} != ground truth $truth")
    }
  }

  test("explainImage RGB: 3-channel codec + per-channel masking recover the dominant superpixel") {
    val s = spark
    import s.implicits._
    val side = 8; val ch = 3
    def segOf(p: Int): Int = (p / side / 2) * (side / 2) + (p % side / 2)
    // 4 synthetic 8×8 RGB images: gaussian noise with one 2×2 block
    // boosted ×10 across all channels — a planted dominant superpixel
    val rnd = new java.util.Random(7)
    val imgs = (0L until 4L).map { id =>
      val x = Array.fill(side * side * ch)(rnd.nextGaussian())
      val boost = (id * 5 % 16).toInt
      for (f <- x.indices) if (segOf(f / ch) == boost) x(f) *= 10.0
      val bb = java.nio.ByteBuffer.allocate(4 * x.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      x.foreach(v => bb.putFloat(v.toFloat))
      // ground truth recomputes from the float32-rounded values the
      // decoder will actually see
      (id, bb.array(), x.map(v => v.toFloat.toDouble))
    }
    val df = imgs.map(t => (t._1, t._2)).toDF("doc_id", "payload")
    def run() = graft.lime.LimeImage.explainImage(df,
      decode = graft.lime.LimeImage.f32leRgb, channels = ch).collect()
    val e1 = run(); val e2 = run()
    assert(e1.nonEmpty && e1.length == e2.length)
    e1.zip(e2).foreach { case (a, b) => assert(a.toString == b.toString) }
    // 4 images × top-5 superpixels, spix ∈ [0, 16)
    assert(e1.map(_.getLong(0)).distinct.length == 4)
    assert(e1.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 16))
    // planted-signal recovery: the black box is linear, so the true
    // masking effect of superpixel s is |c_kept − c_masked| with the
    // PER-CHANNEL mean rule; LIME's top-1 must match the argmax
    e1.filter(_.getInt(1) == 1).foreach { r =>
      val x = imgs(r.getLong(0).toInt)._3
      val eff = Array.fill(16)(0.0)
      val sx = Array.ofDim[Double](16, ch); val ss = Array.ofDim[Double](16, ch)
      for (f <- x.indices) {
        val p = f / ch; val c = f % ch; val sgm = segOf(p)
        eff(sgm) += graft.lime.LimeImage.pixelSign(f) * x(f)
        sx(sgm)(c) += x(f); ss(sgm)(c) += graft.lime.LimeImage.pixelSign(f)
      }
      val delta = (0 until 16).map(sgm => math.abs(eff(sgm) -
        (0 until ch).map(c => sx(sgm)(c) / 4.0 * ss(sgm)(c)).sum))
      val truth = delta.zipWithIndex.maxBy(t => (t._1, -t._2))._2
      assert(r.getInt(2) == truth,
        s"image ${r.getLong(0)}: RGB LIME top-1 spix ${r.getInt(2)} != ground truth $truth")
    }
    // the grayscale path is untouched by the channels generalization:
    // a channels = 1 run over the registry images must stay identical
    val g1 = LimeOps.limeExplainImage(spark, dir).collect().map(_.toString).toSeq
    assert(g1.nonEmpty, "grayscale regression guard needs rows")
  }

  test("explainImage SLIC: content-adaptive segments, planted top-1 matches ground truth (gray + RGB)") {
    val s = spark
    import s.implicits._
    // 16×16 images: near-zero gaussian background with a bright 3×4
    // rectangle planted OFF the 2×2 grid alignment (odd offsets), so a
    // content-adaptive segmentation must carve it out where the fixed
    // grid cannot follow it
    val side = 16
    def mkImages(ch: Int): Seq[(Long, Array[Byte], Array[Double])] = {
      val rnd = new java.util.Random(11 + ch)
      (0L until 4L).map { id =>
        val x = Array.fill(side * side * ch)(0.1 * rnd.nextGaussian())
        val oy = 1 + 2 * id.toInt // odd row offset per image
        val ox = 3
        for (py <- oy until oy + 3; px <- ox until ox + 4; c <- 0 until ch)
          x((py * side + px) * ch + c) = 50.0 + 0.1 * rnd.nextGaussian()
        val bb = java.nio.ByteBuffer.allocate(4 * x.length)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        x.foreach(v => bb.putFloat(v.toFloat))
        (id, bb.array(), x.map(v => v.toFloat.toDouble))
      }
    }
    for (ch <- Seq(1, 3)) {
      val imgs = mkImages(ch)
      val seg = graft.lime.LimeImage.slic(k = 16, iters = 10, compactness = 1.0)
      // the segmentation itself: deterministic, 4-connected, and NOT
      // the 2×2 grid
      imgs.foreach { case (id, _, x) =>
        val l1 = seg(x, side, ch); val l2 = seg(x, side, ch)
        assert(l1.toSeq == l2.toSeq, s"img $id ch=$ch: slic not deterministic")
        val grid = graft.lime.LimeImage.gridSegment(x, side, ch)
        assert(l1.toSeq != grid.toSeq,
          s"img $id ch=$ch: slic degenerated to the 2x2 grid")
        val nSeg = l1.max + 1
        assert((0 until nSeg).forall(v => l1.contains(v)), "labels not dense")
        // 4-connectivity: flood from each label's first pixel must
        // reach every pixel of that label
        (0 until nSeg).foreach { v =>
          val members = l1.indices.filter(l1(_) == v).toSet
          val seen = scala.collection.mutable.Set(members.min)
          val stack = scala.collection.mutable.Stack(members.min)
          while (stack.nonEmpty) {
            val p = stack.pop()
            val py = p / side; val px = p % side
            Seq((py - 1, px), (py + 1, px), (py, px - 1), (py, px + 1)).foreach {
              case (qy, qx) =>
                if (qy >= 0 && qy < side && qx >= 0 && qx < side) {
                  val q = qy * side + qx
                  if (members(q) && !seen(q)) { seen += q; stack.push(q) }
                }
            }
          }
          assert(seen == members, s"img $id ch=$ch: label $v not 4-connected")
        }
      }
      // end-to-end: LIME top-1 over the SLIC segments must equal the
      // ground-truth effect argmax computed from the same labels
      val df = imgs.map(t => (t._1, t._2)).toDF("doc_id", "payload")
      def run() = graft.lime.LimeImage.explainImage(df,
        decode = if (ch == 3) graft.lime.LimeImage.f32leRgb
                 else graft.lime.LimeImage.f32le,
        channels = ch, segment = seg).collect()
      val e1 = run(); val e2 = run()
      assert(e1.nonEmpty && e1.length == e2.length)
      e1.zip(e2).foreach { case (a, b) => assert(a.toString == b.toString) }
      e1.filter(_.getInt(1) == 1).foreach { r =>
        val x = imgs(r.getLong(0).toInt)._3
        val labels = seg(x, side, ch)
        val nSeg = labels.max + 1
        val eff = Array.fill(nSeg)(0.0)
        val sx = Array.ofDim[Double](nSeg, ch); val ss = Array.ofDim[Double](nSeg, ch)
        val cnt = Array.ofDim[Int](nSeg, ch)
        for (f <- x.indices) {
          val p = f / ch; val c = f % ch; val sgm = labels(p)
          eff(sgm) += graft.lime.LimeImage.pixelSign(f) * x(f)
          sx(sgm)(c) += x(f); ss(sgm)(c) += graft.lime.LimeImage.pixelSign(f)
          cnt(sgm)(c) += 1
        }
        val delta = (0 until nSeg).map(sgm => math.abs(eff(sgm) -
          (0 until ch).map(c => sx(sgm)(c) / cnt(sgm)(c) * ss(sgm)(c)).sum))
        val truth = delta.zipWithIndex.maxBy(t => (t._1, -t._2))._2
        assert(r.getInt(2) == truth,
          s"img ${r.getLong(0)} ch=$ch: SLIC LIME top-1 ${r.getInt(2)} != ground truth $truth")
      }
    }
  }

  test("SP-LIME picks distinct instances with non-increasing gains") {
    val picked = LimeOps.spLimePick(spark, dir).collect()
    assert(picked.length == 3)
    val ids = picked.map(_.getLong(1))
    assert(ids.distinct.length == ids.length)
    val gains = picked.map(_.getDouble(2))
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b - 1e-9 })
  }

  test("SP-LIME importance vector is deterministic and equals a driver recomputation") {
    val i1 = LimeOps.spLimeImportance(spark, dir).collect()
    val i2 = LimeOps.spLimeImportance(spark, dir).collect()
    assert(i1.nonEmpty && i1.map(_.toString).toSeq == i2.map(_.toString).toSeq,
      "importance vector drifted between runs")
    // independent recomputation: collect the shared explanation matrix
    // and fold I_j = sqrt(sum_i |W_ij|) on the driver
    val expl = LimeOps.spLimeExplanations(spark, dir)
      .select(col("feature"), col("weight"))
      .collect().map(r => (r.getString(0), math.abs(r.getDouble(1))))
      .filter(_._2 > 0)
    val truth = expl.groupBy(_._1).map { case (f, rows) =>
      f -> (BigDecimal(math.sqrt(rows.map(_._2).sum))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, rows.length.toLong)
    }
    assert(i1.length == truth.size,
      s"feature set mismatch: ${i1.length} vs ${truth.size}")
    i1.foreach { r =>
      val (imp, n) = truth(r.getString(0))
      // the distributed sum's addition order differs from the driver
      // fold, so allow 1 ulp-at-6-decimals; n_instances is exact
      assert(math.abs(r.getDouble(1) - imp) <= 1e-6,
        s"${r.getString(0)}: importance ${r.getDouble(1)} != recomputed $imp")
      assert(r.getLong(2) == n, s"${r.getString(0)}: n ${r.getLong(2)} != $n")
    }
  }

  test("lime_ridge_moments solves to the RidgeAggregator fit on the same perturb output (r12)") {
    // the moments row IS the normal-equations input: solving
    // (G + λ·diag(0,1..1)) β = b from the 6-dp-quantized moment matrix
    // must reproduce RidgeAggregator's unquantized Cholesky fit on the
    // SAME (corpus-stats) perturb stream up to the quantization error —
    // the hash-trust bridge for lime_fit_ridge
    val li = graft.Tables.lineitem(spark, dir)
    val inst = LimeOps.withKey(li.filter(col("l_orderkey") <= 2))
      .select((Seq("instance_id") ++ LimeOps.limeFeatures).map(col): _*)
    val moments = LimeOps.limeRidgeMoments(spark, dir).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.map(r => (r.getInt(1), r.getInt(2)) -> r.getDouble(3)).toMap
      }
    // corpus stats — the stats the graded row perturbs and scores with
    val stats = Lime.fitStats(li, LimeOps.limeFeatures)
    val pert = Lime.perturb(inst, "instance_id", stats, LimeConfig(nSamples = 8))
    val yC = Lime.logisticScore(stats, LimeOps.limeFeatures.map(f => col(s"${f}__val")))
    val d2C = LimeOps.limeFeatures.map(f => lit(1.0) - col(s"${f}__z")).reduce(_ + _)
    val samples = pert.select(col("instance_id"),
        array(LimeOps.limeFeatures.map(f => col(s"${f}__z")): _*).as("z"),
        yC.cast("double").as("y"),
        sqrt(exp(-d2C / lit(2.25))).cast("double").as("w"),
        col("sample_id"))
      .collect()
      .groupBy(_.getLong(0))
    val fits = samples.map { case (id, rows) =>
      val agg = new RidgeAggregator(4, 1.0)
      var buf = agg.zero
      rows.sortBy(_.getInt(4)).foreach { r =>
        buf = agg.reduce(buf, RidgeSample(
          r.getSeq[Double](1).toArray, r.getDouble(2), r.getDouble(3)))
      }
      id -> agg.finish(buf)
    }
    assert(moments.keySet == fits.keySet, "instance sets diverged")
    for ((id, m) <- moments) {
      def g(j: Int, k: Int) = m(if (j <= k) (j, k) else (k, j))
      // 5×5 ridge solve by Gaussian elimination with partial pivoting
      val a = Array.tabulate(5, 6) { (r, c) =>
        if (c == 5) g(r, 5)
        else g(r, c) + (if (r == c && r > 0) 1.0 else 0.0) // λ = 1, intercept free
      }
      for (p <- 0 until 5) {
        val piv = (p until 5).maxBy(r => math.abs(a(r)(p)))
        val t = a(p); a(p) = a(piv); a(piv) = t
        for (r <- p + 1 until 5) {
          val f = a(r)(p) / a(p)(p)
          for (c <- p to 5) a(r)(c) -= f * a(p)(c)
        }
      }
      val beta = new Array[Double](5)
      for (r <- 4 to 0 by -1)
        beta(r) = (a(r)(5) - (r + 1 until 5).map(c => a(r)(c) * beta(c)).sum) / a(r)(r)
      val fit = fits(id)
      assert(math.abs(beta(0) - fit.intercept) < 5e-3,
        s"instance $id: intercept ${beta(0)} vs aggregator ${fit.intercept}")
      LimeOps.limeFeatures.indices.foreach { i =>
        assert(math.abs(beta(i + 1) - fit.coefs(i)) < 5e-3,
          s"instance $id/f$i: moment-solved ${beta(i + 1)} vs aggregator ${fit.coefs(i)}")
      }
      // r² from the same moments: ssRes = M55 − 2βᵀb + βᵀGβ (unpenalized G)
      val b = (0 until 5).map(j => g(j, 5))
      val btb = (0 until 5).map(j => beta(j) * b(j)).sum
      val btgb = (for (j <- 0 until 5; k <- 0 until 5) yield beta(j) * g(j, k) * beta(k)).sum
      val ssRes = g(5, 5) - 2 * btb + btgb
      val ssTot = g(5, 5) - g(0, 5) * g(0, 5) / g(0, 0)
      val r2 = 1.0 - ssRes / ssTot
      assert(math.abs(r2 - fit.r2) < 5e-3, s"instance $id: r2 $r2 vs aggregator ${fit.r2}")
    }
    // and the ORACLE-CHECKED solve row agrees with the aggregator fit
    // too — Cholesky (the graded row) vs Gaussian elimination (this
    // spec) on the same quantized system, both within the moment
    // quantization tolerance of the unquantized aggregator
    val solved = LimeOps.limeRidgeSolve(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(solved.keySet == fits.keySet, "solve-row instance set diverged")
    for ((id, fit) <- fits) {
      val r = solved(id)
      assert(math.abs(r.getDouble(1) - fit.intercept) < 5e-3,
        s"instance $id: solve intercept ${r.getDouble(1)} vs aggregator ${fit.intercept}")
      LimeOps.limeFeatures.indices.foreach { i =>
        assert(math.abs(r.getDouble(2 + i) - fit.coefs(i)) < 5e-3,
          s"instance $id/f$i: solve ${r.getDouble(2 + i)} vs aggregator ${fit.coefs(i)}")
      }
      assert(math.abs(r.getDouble(6) - fit.r2) < 5e-3,
        s"instance $id: solve r2 ${r.getDouble(6)} vs aggregator ${fit.r2}")
      assert(math.abs(r.getDouble(7) - fit.localPred) < 2e-2,
        s"instance $id: solve local_pred ${r.getDouble(7)} vs aggregator ${fit.localPred}")
    }
  }
}
