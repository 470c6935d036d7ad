package graft

/** graft.GraftExtensions must expose the native expressions to SQL. */
class ExtensionsSpec extends SparkSpec {

  test("dot_f64 callable from SQL, matches Column API semantics") {
    val r = spark.sql(
      "SELECT dot_f64(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS d").head()
    assert(r.getDouble(0) == 32.0)
  }

  test("wrong argument types are rejected at analysis time") {
    // int arrays would be silently reinterpreted as garbage doubles
    val e = intercept[Exception] {
      spark.sql("SELECT dot_f64(array(1, 2), array(3, 4))").head()
    }
    assert(e.getMessage.contains("dot_f64"), e.getMessage)
  }

  test("bitset_intersect_count callable from SQL") {
    val r = spark.sql(
      "SELECT bitset_intersect_count(array(7L, 1L), array(5L, 3L)) AS c").head()
    // 7&5 = 0b101 (2 bits), 1&3 = 0b1 (1 bit)
    assert(r.getInt(0) == 3)
  }

  test("packed_char_bigrams matches the higher-order transform/zip_with form") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("norm_text", lower(trim(col("text"))))
      .filter(length(col("norm_text")) >= 2)
    val viaExpr = docs.select(col("doc_id"),
      graft.functions.VectorExprs.packedCharBigrams(col("norm_text")).as("bgs"))
    val viaLambdas = docs
      .withColumn("c", expr("transform(split(norm_text, ''), ch -> CAST(ascii(ch) AS BIGINT))"))
      .select(col("doc_id"),
        zip_with(slice(col("c"), lit(1), size(col("c")) - 1),
                 slice(col("c"), lit(2), size(col("c")) - 1),
                 (a, b) => a * lit(1114112L) + b).as("bgs"))
    val a = viaExpr.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val b = viaLambdas.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"mismatch at doc ${x._1}") }
  }

  test("word_bigram_shingles matches the split/zip_with/array_distinct form") {
    import org.apache.spark.sql.functions._
    // fixture corpus + hand-picked edges: repeated bigrams, internal
    // double spaces (kept empty tokens), single word, empty string
    val s = spark
    import s.implicits._
    val extra = Seq("a b a b", "a  b", "lone", "", "x  ", " y").toDF("norm_text")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("norm_text", lower(trim(col("text"))))
      .select("norm_text")
      .unionByName(extra)
    val viaExpr = docs.select(
      graft.functions.VectorExprs.wordBigramShingles(col("norm_text")).as("sh"))
    val viaLambdas = docs
      .withColumn("w", split(col("norm_text"), " "))
      .select(when(size(col("w")) < 2, array().cast("array<string>"))
        .otherwise(array_distinct(
          zip_with(slice(col("w"), lit(1), size(col("w")) - 1),
                   slice(col("w"), lit(2), size(col("w")) - 1),
                   (a, b) => concat(a, lit(" "), b)))).as("sh"))
    val a = viaExpr.collect().map(_.getSeq[String](0))
    val b = viaLambdas.collect().map(_.getSeq[String](0))
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"mismatch: $x vs $y") }
  }

  test("winnow_fingerprints matches the polynomial-transform/zip_with-minima chain") {
    import org.apache.spark.sql.functions._
    // the pre-kernel expression chain, rebuilt with the same K=8 W=4
    // M=1000000007 B=256 parameters the kernel (and the DuckDB oracle
    // CTE) uses — preflight pins kernel↔oracle, this pins the rolling
    // arithmetic itself
    val K = 8; val W = 4; val M = 1000000007L
    val pows = Array.iterate(1L, K)(p => p * 256L % M).reverse
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("norm_text", lower(trim(col("text"))))
      .withColumn("at", regexp_replace(col("norm_text"), "[^\\x00-\\x7f]", "?"))
      .filter(length(col("at")) >= K + W - 1)
    def pairMin(a: org.apache.spark.sql.Column, len: org.apache.spark.sql.Column, gap: Int) =
      zip_with(slice(a, lit(1), len), slice(a, lit(1 + gap), len), (x, y) => least(x, y))
    val viaLambdas = docs
      .withColumn("cs", expr("transform(split(at, ''), x -> ascii(x))"))
      .withColumn("fps", expr(
        s"""transform(sequence(1, size(cs) - ${K - 1}), p ->
           |  (${(0 until K).map(j => s"CAST(element_at(cs, p + $j) AS BIGINT) * ${pows(j)} % $M").mkString(" + ")}) % $M)""".stripMargin))
      .withColumn("m1", pairMin(col("fps"), size(col("fps")) - 1, 1))
      .withColumn("win", pairMin(col("m1"), size(col("m1")) - 2, 2))
      .select(col("doc_id"), array_distinct(col("win")).as("fp"))
    val viaKernel = docs.select(col("doc_id"),
      graft.functions.VectorExprs.winnowFingerprints(col("at")).as("fp"))
    val a = viaKernel.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val b = viaLambdas.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"mismatch at doc ${x._1}") }
  }

  test("minhash_signature matches the 32-transform array_min form") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("norm_text", lower(trim(col("text"))))
      .select("norm_text")
      .unionByName(Seq("one two three two one", "solo", "").toDF("norm_text"))
      .select(graft.functions.VectorExprs.wordBigramShingles(col("norm_text")).as("shingles"))
    val viaKernel = docs.select(
      graft.functions.VectorExprs.minhashSignature(col("shingles")).as("sig"))
    val viaLambdas = docs.select(array(
      (0 until 32).map(i => array_min(expr(
        s"transform(shingles, x -> xxhash64('mh$i:' || x))"))): _*).as("sig"))
    val a = viaKernel.collect().map(_.getSeq[Any](0))
    val b = viaLambdas.collect().map(_.getSeq[Any](0))
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"mismatch: $x vs $y") }
  }

  test("simhash64 matches the explode + 64-column vote aggregate") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("norm_text", lower(trim(col("text"))))
      .select("doc_id", "norm_text")
      .unionByName(Seq((90001L, "tie tie"), (90002L, "a  b "), (90003L, "solo"))
        .toDF("doc_id", "norm_text"))
      .filter(col("norm_text") =!= "")
    val viaKernel = docs.select(col("doc_id"),
      graft.functions.VectorExprs.simhash64(col("norm_text")).as("simhash"))
    val words = docs
      .select(col("doc_id"), explode(split(col("norm_text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("h", xxhash64(col("word")))
    val voteCols = (0 until 64).map(j =>
      sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), 1).otherwise(-1)).as(s"v$j"))
    val viaAgg = words.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _).as("simhash"))
    val a = viaKernel.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = viaAgg.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("simhash_portable matches the explode + 60-column vote aggregate") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    // fixture rows pin the edge cases: tie votes (bit cleared), runs of
    // spaces (empty words skipped), single word, non-ASCII sanitized
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("norm_text", lower(trim(col("text"))))
      .select("doc_id", "norm_text")
      .unionByName(Seq((90001L, "tie tie"), (90002L, "a  b "), (90003L, "solo"))
        .toDF("doc_id", "norm_text"))
      .filter(col("norm_text") =!= "")
      .withColumn("at", regexp_replace(col("norm_text"), "[^\\x00-\\x7f]", "?"))
    val viaKernel = docs.select(col("doc_id"),
      graft.functions.VectorExprs.simhashPortable(col("at")).as("simhash"))
    // the mixed Karp-Rabin word hash spelled out as builtin expressions
    // — the same arithmetic the DuckDB oracle runs, so this pin is what
    // keeps kernel and oracle in lockstep
    val words = docs
      .select(col("doc_id"), explode(split(col("at"), " ")).as("word"))
      .filter(col("word") =!= "")
      .withColumn("r1", expr(
        "aggregate(split(word, ''), CAST(0 AS BIGINT), (a, c) -> (a * 256 + ascii(c)) % 1000000007)"))
      .withColumn("r2", expr(
        "aggregate(split(word, ''), CAST(0 AS BIGINT), (a, c) -> (a * 131 + ascii(c)) % 1000000009)"))
      .withColumn("h", expr(
        "((r1 * 2654435761 + r2) % 1073741789) | (((r2 * 2654435789 + r1) % 1073741789) << 30)"))
    val voteCols = (0 until 60).map(j =>
      sum(when(expr(s"(shiftright(h, $j) & 1) = 1"), 1).otherwise(-1)).as(s"v$j"))
    val viaAgg = words.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _).as("simhash"))
    val a = viaKernel.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = viaAgg.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.toSeq == b.toSeq)
  }

  test("winnow_fingerprints / minhash_signature / simhash64 callable from SQL") {
    val r = spark.sql(
      """SELECT size(winnow_fingerprints('abcdefghijklmnop')) AS w,
        |       size(minhash_signature(array('a b', 'b c'))) AS m,
        |       simhash64('hello world') AS s,
        |       simhash_portable('hello world') AS sp""".stripMargin).head()
    assert(r.getInt(0) > 0)      // 16 chars -> at least one anchor
    assert(r.getInt(1) == 32)    // always 32 permutation minima
    // same value as the Column-API kernel on the same input
    import org.apache.spark.sql.functions._
    val s2 = spark.range(1).select(
      graft.functions.VectorExprs.simhash64(lit("hello world")).as("s"),
      graft.functions.VectorExprs.simhashPortable(lit("hello world")).as("sp")).head()
    assert(r.getLong(2) == s2.getLong(0))
    assert(r.getLong(3) == s2.getLong(1))
    assert((r.getLong(3) >> 60) == 0L) // portable signature uses bits 0..59 only
  }

  test("registered functions reject wrong arity at analysis time") {
    val e = intercept[Exception] {
      spark.sql("SELECT simhash64('a', 7)").head()
    }
    assert(e.getMessage.contains("simhash64"), e.getMessage)
    val e0 = intercept[Exception] {
      spark.sql("SELECT winnow_fingerprints()").head()
    }
    assert(e0.getMessage.contains("winnow_fingerprints"), e0.getMessage)
  }

  test("packed_char_bigrams: empty and single-char strings yield no bigrams") {
    val r = spark.sql(
      "SELECT packed_char_bigrams(''), packed_char_bigrams('x'), packed_char_bigrams('ab')").head()
    assert(r.getSeq[Long](0).isEmpty && r.getSeq[Long](1).isEmpty)
    assert(r.getSeq[Long](2) == Seq('a'.toLong * 1114112L + 'b'.toLong))
  }

  test("packed_char_bigrams: supplementary-plane codepoints are single units") {
    // pins the DOCUMENTED kernel semantics (codePointAt walk, one unit
    // per astral char) rather than chain equality — the pre-kernel
    // split('') chain iterated UTF-16 chars and would emit surrogate
    // halves here; the kernel's divergence on non-BMP input is
    // intentional and matches DuckDB's character semantics
    val clef = 0x1D11E // 𝄞 MUSICAL SYMBOL G CLEF (above the BMP)
    val r = spark.sql("SELECT packed_char_bigrams('a𝄞b')").head()
    assert(r.getSeq[Long](0) ==
      Seq('a'.toLong * 1114112L + clef, clef.toLong * 1114112L + 'b'.toLong))
  }

  test("hyperplane_sigs: SQL form matches the Column API, literals enforced") {
    import org.apache.spark.sql.functions.{array, col, lit}
    val s = spark
    import s.implicits._
    val df = Seq((1L, Array(0.5, -1.2, 3.0, 0.1)), (2L, Array(-2.0, 0.0, 1.0, 4.0)))
      .toDF("id", "v")
    df.createOrReplaceTempView("hp_vecs")
    val viaSql = spark.sql(
      "SELECT id, hyperplane_sigs(v, 42L, 6, 4, 4) AS sigs FROM hp_vecs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    val viaApi = df.select(col("id"),
        graft.functions.VectorExprs.hyperplaneSigs(col("v"), 42L, 6, 4, 4).as("sigs"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Int](1)))
    assert(viaSql.toSeq == viaApi.toSeq)
    assert(viaSql.forall(_._2.length == 6), "one signature per table expected")
    // non-literal parameter and wrong arity are rejected at analysis time
    val e1 = intercept[Exception] {
      spark.sql("SELECT hyperplane_sigs(v, id, 6, 4, 4) FROM hp_vecs").head()
    }
    assert(e1.getMessage.contains("integer literal"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT hyperplane_sigs(v, 42L) FROM hp_vecs").head()
    }
    assert(e2.getMessage.contains("5 arguments"), e2.getMessage)
    // out-of-range bits (32 would reach the Int sign bit) rejected
    val e3 = intercept[Exception] {
      spark.sql("SELECT hyperplane_sigs(v, 42L, 6, 32, 4) FROM hp_vecs").head()
    }
    assert(e3.getMessage.contains("[1, 31]"), e3.getMessage)
    // an out-of-Int-range table count must fail, not truncate silently
    val e4 = intercept[Exception] {
      spark.sql("SELECT hyperplane_sigs(v, 42L, 4294967297, 4, 4) FROM hp_vecs").head()
    }
    assert(e4.getMessage.contains("must fit in an Int"), e4.getMessage)
  }

  test("karp_rabin_hash matches the aggregate-fold expression form on the fixture") {
    import org.apache.spark.sql.functions._
    // the portable whole-document fingerprint: Horner fold over ASCII
    // codes with the winnowing constants (base 256, mod 1e9+7) — the
    // same residue arithmetic the DuckDB oracle recomputes with
    // list_reduce, so this pins the kernel against the pure-SQL chain
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("at", regexp_replace(lower(trim(col("text"))), "[^\\x00-\\x7f]", "?"))
    val viaKernel = docs.select(col("doc_id"),
      graft.functions.VectorExprs.karpRabinHash(col("at")).as("fp"))
    val viaLambdas = docs.select(col("doc_id"), expr(
      "aggregate(transform(split(at, ''), x -> CAST(ascii(x) AS BIGINT)), " +
        "0L, (a, x) -> (a * 256 + x) % 1000000007)").as("fp"))
    val a = viaKernel.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = viaLambdas.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(a.length == b.length && a.length > 0)
    assert(a.toSeq == b.toSeq)
  }

  test("karp_rabin_hash callable from SQL, hand-computed values and edge cases") {
    val r = spark.sql(
      "SELECT karp_rabin_hash('abc'), karp_rabin_hash(''), " +
      "karp_rabin_hash(CAST(NULL AS STRING))").head()
    // 'abc' = ((97*256 + 98)*256 + 99) mod 1e9+7 = 6382179 (no wrap)
    assert(r.getLong(0) == 6382179L)
    assert(r.getLong(1) == 0L, "empty string folds to the seed 0")
    assert(r.isNullAt(2), "null input stays null")
    // non-string argument rejected at analysis time
    val e = intercept[Exception] { spark.sql("SELECT karp_rabin_hash(7)").head() }
    assert(e.getMessage.contains("karp_rabin_hash"), e.getMessage)
  }

  test("minhash_signature(k): first 32 minima of a wider signature equal the k=32 form") {
    import org.apache.spark.sql.functions._
    // the per-permutation prefix family is shared across k (perm i
    // hashes identically at any k) — the property the banded scale
    // path relies on when it derives a band count above 16
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .withColumn("norm_text", lower(trim(col("text"))))
      .select(graft.functions.VectorExprs.wordBigramShingles(col("norm_text")).as("shingles"))
    val both = docs.select(
      graft.functions.VectorExprs.minhashSignature(col("shingles"), 64).as("wide"),
      graft.functions.VectorExprs.minhashSignature(col("shingles")).as("narrow"))
      .collect()
    assert(both.length > 0)
    both.foreach { r =>
      assert(r.getSeq[Any](0).take(32) == r.getSeq[Any](1),
        "k=64 signature's first 32 perms diverged from the k=32 signature")
    }
  }

  test("knn_topk_keys matches the transform + comparator-sort + slice chain") {
    import org.apache.spark.sql.functions._
    // the reference form is the higher-order chain the kernel replaced
    // (same encoding, interpreted lambda per candidate) — identical
    // keys on the real fixture pins rounding, tie order, self-
    // exclusion, and the cheap-reject bound together
    val emb = graft.operators.LlmData.embWithNorms(spark, "/root/testdata/sf0.001")
    val corpus = emb.agg(collect_list(struct(
      col("vec_id").as("id"), col("v").as("e"), col("nrm").as("nm"))).as("corpus"))
    val shift = 1L << 40
    val both = emb.crossJoin(broadcast(corpus))
      .select(col("vec_id"),
        graft.functions.VectorExprs.knnTopkKeys(
          col("corpus"), col("v"), col("nrm"), col("vec_id"), 5).as("kernel"),
        expr(
          s"""slice(array_sort(
             |  transform(filter(corpus, c -> c.id != vec_id),
             |    c -> (1000000L - cast(round(round(dot_f64(v, c.e) / (nrm * c.nm), 6)
             |                               * 1000000.0D) as bigint)) * ${shift}L + c.id)),
             |1, 5)""".stripMargin).as("chain"))
      .collect()
    assert(both.length == 500)
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"kernel/chain divergence for vec_id ${r.getLong(0)}")
    }
  }

  test("pq_codes matches the transform + array_position-of-min chain") {
    import org.apache.spark.sql.functions._
    // reference form = the interpreted higher-order chain the kernel
    // replaced; identical codes on the real fixture pins the per-
    // subspace L2 accumulation order and the smallest-index tie rule
    val M = 8; val K = 16; val subDim = 8
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
    val cb: Array[Array[Array[Double]]] =
      emb.orderBy("vec_id").limit(K).collect()
        .map(_.getSeq[Double](1).toArray) match {
          case rows => Array.tabulate(M, K)((m, k) =>
            rows(k).slice(m * subDim, (m + 1) * subDim))
        }
    val chainCodes = (0 until M).map { m =>
      val cbm = typedlit(cb(m).map(_.toSeq).toSeq)
      val sub = slice(col("v"), m * subDim + 1, subDim)
      val dists = transform(cbm, c =>
        aggregate(zip_with(sub, c, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x))
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    val both = emb.select(col("vec_id"),
      graft.functions.VectorExprs.pqCodes(col("v"), cb).as("kernel"),
      array(chainCodes: _*).as("chain")).collect()
    assert(both.length == 500)
    both.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"pq_codes kernel/chain divergence for vec_id ${r.getLong(0)}")
    }
    // dimension mismatch fails fast, never truncates
    val err = intercept[Exception] {
      emb.select(graft.functions.VectorExprs.pqCodes(
        slice(col("v"), 1, 63), cb)).collect()
    }
    assert(err.getMessage.contains("pq_codes"), err.getMessage)
  }

  test("knn_topk_keys callable from SQL; k must be a literal") {
    val r = spark.sql(
      """SELECT knn_topk_keys(
        |  array(struct(CAST(1 AS BIGINT) AS id, array(1.0D, 0.0D) AS e, 1.0D AS nm),
        |        struct(CAST(2 AS BIGINT) AS id, array(0.0D, 1.0D) AS e, 1.0D AS nm),
        |        struct(CAST(3 AS BIGINT) AS id, array(1.0D, 1.0D) AS e, sqrt(2.0D) AS nm)),
        |  array(1.0D, 0.0D), 1.0D, CAST(1 AS BIGINT), 2)""".stripMargin).head()
    val keys = r.getSeq[Long](0)
    // nearest to (1,0) excluding self: id 3 (cos ≈ 0.707107), id 2 (cos 0)
    assert(keys.map(_ % (1L << 40)) == Seq(3L, 2L), s"got $keys")
    val err = intercept[Exception] {
      spark.sql("SELECT knn_topk_keys(array(struct(CAST(1 AS BIGINT) AS id, array(1.0D) AS e, 1.0D AS nm)), array(1.0D), 1.0D, CAST(9 AS BIGINT), 1 + 1)").head()
    }
    // Pin the builder's literal-only validation specifically — a
    // vacuous `|| msg != null` disjunct would pass for ANY failure.
    assert(err.getMessage.contains("k must be an integer literal"),
      s"expected the literal-k validation message, got: ${err.getMessage}")
  }

  test("knn_topk_keys: a nullable argument fails at plan time; the Column builder names a null") {
    import org.apache.spark.sql.functions._
    spark.range(2).selectExpr("id", "IF(id = 1, NULL, 1.0D) AS nm")
      .createOrReplaceTempView("knn_nullable_nrm")
    val corpus = "array(struct(CAST(7 AS BIGINT) AS id, array(1.0D) AS e, 1.0D AS nm))"
    val planErr = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT knn_topk_keys($corpus, array(1.0D), nm, id, 1) FROM knn_nullable_nrm")
    }
    assert(planErr.getMessage.contains("knn_topk_keys: arguments must be non-nullable"),
      planErr.getMessage)
    // the builder asserts non-null: a non-null row computes, a null
    // fails the task naming the argument, never an NPE in the kernel
    def run(id: Long) = spark.table("knn_nullable_nrm").filter(col("id") === id)
      .select(graft.functions.VectorExprs.knnTopkKeys(expr(corpus), array(lit(1.0)),
        col("nm"), col("id"), 1)).collect()
    assert(run(0).head.getSeq[Long](0).map(_ % (1L << 40)) == Seq(7L))
    val runErr = intercept[Exception](run(1))
    assert(runErr.getMessage.contains("knn_topk_keys argument nrm"), runErr.getMessage)
  }

  test("minhash_signature: null array elements are skipped like the xxhash chain") {
    val r = spark.sql(
      "SELECT minhash_signature(array('ab cd', CAST(NULL AS STRING), 'ef gh'))," +
      "       minhash_signature(array('ab cd', 'ef gh'))," +
      "       minhash_signature(array(CAST(NULL AS STRING)))").head()
    assert(r.getSeq[java.lang.Long](0) == r.getSeq[java.lang.Long](1),
      "null element should not change the signature")
    assert(r.getSeq[java.lang.Long](2).forall(_ == null),
      "all-null array should yield the 32-null signature")
  }
}
