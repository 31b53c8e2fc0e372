package graft

import graft.SparkTestBase

class GraftExtensionsSpec extends SparkTestBase {
  test("dot_arr is callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT dot_arr(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(r == 32.0)
  }

  test("freq_items_mg is callable from SQL and finds the group-wise heavy hitter") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT g, map_contains_key(freq_items_mg(t, 2), 'hot') AS has_hot
        |FROM VALUES ('a','hot'),('a','hot'),('a','hot'),('a','x'),('a','y'),
        |            ('b','hot'),('b','hot'),('b','z') AS v(g, t)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(r.length == 2 && r.forall(_.getBoolean(1)),
      "the dominant item must be present in every group's MG summary")
  }

  test("theta_sketch is callable from SQL and intersects exactly in exact mode") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT g, theta_sketch(v, 12) AS sk
        |FROM VALUES ('a',1L),('a',2L),('a',3L),('b',2L),('b',3L),('b',4L) AS t(g, v)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    val est = graft.functions.ThetaSketchAgg.intersectEstimate(
      r(0).getAs[Array[Byte]](1), r(1).getAs[Array[Byte]](1))
    assert(math.rint(est).toLong == 2L, s"|{1,2,3} ∩ {2,3,4}| must be 2, got $est")
  }

  test("topk_by is callable from SQL and ranks (ord DESC, tag ASC)") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT g, transform(topk_by(o, t, 2), x -> x.tag) AS tags
        |FROM VALUES ('a', 5L, 1L),('a', 9L, 2L),('a', 9L, 3L),('a', 1L, 4L),
        |            ('b', 2L, 7L),('b', 2L, 6L) AS v(g, o, t)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(r(0).getSeq[Long](1) == Seq(2L, 3L), "ties must break to the smaller tag")
    assert(r(1).getSeq[Long](1) == Seq(6L, 7L))
  }

  test("topk_by composes with other aggregates in one grouped pass") {
    // the (c) leg of x42's niche: an aggregate FUNCTION shares the
    // groupBy pass with count/sum — the window formulation needs a
    // separate windowed scan. One ObjectHashAggregate chain, no Window.
    GraftExtensions.register(spark)
    val df = spark.sql(
      """SELECT g, count(*) AS n, sum(o) AS tot, transform(topk_by(o, t, 1), x -> x.tag)[0] AS best
        |FROM VALUES ('a', 5L, 1L),('a', 9L, 2L),('b', 2L, 7L) AS v(g, o, t)
        |GROUP BY g ORDER BY g""".stripMargin)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq(("a", 2L, 14L, 2L), ("b", 1L, 2L, 7L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected one object-hash agg pass:\n$plan")
    assert(!plan.contains("Window"), s"no window scan expected:\n$plan")
  }

  test("two dot_arr instances in one projection codegen without collision") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT dot_arr(a, b) AS d1, dot_arr(a, a) AS d2 FROM
        |(SELECT array(1.0D, 2.0D) AS a, array(3.0D, 4.0D) AS b)""".stripMargin)
      .collect()(0)
    assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 5.0)
  }

  test("dot_arr rejects wrong arity with a clear message") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT dot_arr(array(1.0D))").collect()
    }
    assert(e.getMessage.contains("2 arguments") ||
      Option(e.getCause).exists(_.getMessage.contains("2 arguments")))
  }

  test("dot_arr rejects dimension mismatch like the oracle") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT dot_arr(array(1.0D), array(1.0D, 2.0D))").collect()
    }
    assert(e.getMessage.contains("dimension mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("dimension mismatch")))
  }

  test("md5_long64 derivations equal the hex-string parse exactly") {
    GraftExtensions.register(spark)
    // every shift/mask derivation the operators rely on, checked against
    // the conv(substring(md5(...))) formulation it replaced, over the
    // real token distribution
    val r = spark.sql(
      s"""SELECT count(*) AS bad FROM (
        |  SELECT t,
        |    shiftrightunsigned(md5_long64(t, 0), 32) AS a8,
        |    cast(conv(substring(md5(t), 1, 8), 16, 10) AS bigint) AS e8,
        |    shiftrightunsigned(md5_long64(t, 0), 48) AS a4,
        |    cast(conv(substring(md5(t), 1, 4), 16, 10) AS bigint) AS e4,
        |    (shiftrightunsigned(md5_long64(t, 0), 56) & 15) AS an1,
        |    cast(conv(substring(md5(t), 2, 1), 16, 10) AS bigint) AS en1,
        |    (shiftrightunsigned(md5_long64(t, 1), 60) & 15) AS an16,
        |    cast(conv(substring(md5(t), 17, 1), 16, 10) AS bigint) AS en16
        |  FROM (SELECT explode(split(text, ' ')) AS t
        |        FROM parquet.`$sf0001/documents.parquet`))
        |WHERE a8 <> e8 OR a4 <> e4 OR an1 <> en1 OR an16 <> en16""".stripMargin)
      .collect()(0).getLong(0)
    assert(r == 0L, s"$r tokens diverge from the hex-parse derivation")
    // interpreted path parity
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val v = spark.sql(
        """SELECT shiftrightunsigned(md5_long64('graft', 0), 32) =
          |       cast(conv(substring(md5('graft'), 1, 8), 16, 10) AS bigint)""".stripMargin)
        .collect()(0).getBoolean(0)
      assert(v)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("top_token_count / distinct_bigram_count match the lambda formulation on the real corpus") {
    GraftExtensions.register(spark)
    // the HOF derivations these expressions replaced, evaluated side by
    // side over the real token distribution — 0 divergent rows required
    val bad = spark.sql(
      s"""SELECT count(*) AS bad FROM (
         |  SELECT
         |    top_token_count(w) AS tc,
         |    array_max(transform(array_distinct(w), t -> size(filter(w, x -> x = t)))) AS tc_ref,
         |    distinct_bigram_count(w) AS bg,
         |    CASE WHEN size(w) >= 2 THEN size(array_distinct(transform(
         |      sequence(1, size(w) - 1),
         |      i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1))))) ELSE 0 END AS bg_ref
         |  FROM (SELECT split(text, ' ') AS w
         |        FROM parquet.`$sf0001/documents.parquet`))
         |WHERE tc <> tc_ref OR bg <> bg_ref""".stripMargin)
      .collect()(0).getLong(0)
    assert(bad == 0L, s"$bad documents diverge from the lambda formulation")
    // interpreted path parity + edge shapes (empty, 1 token, all-equal)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val r = spark.sql(
        """SELECT top_token_count(array('a','b','a','a')),
          |       top_token_count(cast(array() AS array<string>)),
          |       top_token_count(array('x')),
          |       distinct_bigram_count(array('a','b','a','b')),
          |       distinct_bigram_count(array('x')),
          |       distinct_bigram_count(array('a','a','a'))""".stripMargin)
        .collect()(0)
      assert((0 until 6).map(r.getLong) == Seq(3L, 0L, 1L, 2L, 0L, 1L))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("dot_arr widens float arrays and respects codegen + interpreted paths") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT dot_arr(cast(array(1.5, 2.5) AS array<float>),
        |               cast(array(2.0, 4.0) AS array<float>)) AS d""".stripMargin)
      .collect()(0).getDouble(0)
    assert(r == 13.0)
    // interpreted path (whole-stage codegen off)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val r2 = spark.sql(
        "SELECT dot_arr(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .collect()(0).getDouble(0)
      assert(r2 == 11.0)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("rolling_hash fold/windows match the lambda formulation on the real corpus") {
    import org.apache.spark.sql.functions._
    val (lambdaFold, lambdaWh) = graft.ops.Oracles.rollingLambda
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select(split(col("text"), " ").as("w"))
      .select(transform(col("w"),
        t => shiftrightunsigned(graft.functions.HashFunctions.md5Long(t, 0), 32)).as("vals"))
      .select(
        graft.functions.RollingHashFunctions.rollingFold(col("vals"), 131L, 1000000000000000L).as("nf"),
        graft.functions.RollingHashFunctions.rollingWindows(col("vals"), 8, 131L, 1000000000000000L).as("nw"),
        lambdaFold.as("lf"), lambdaWh.as("lw"))
    val bad = docs.filter(not(col("nf") <=> col("lf")) || not(col("nw") <=> col("lw"))).count()
    assert(bad == 0L, s"$bad documents diverge from the lambda rolling hash")
    // edge shapes through the interpreted path
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      import spark.implicits._
      val r = Seq(
        Tuple1(Seq.empty[Long]),          // empty: fold 0, no windows
        Tuple1(Seq(7L)),                  // shorter than the window
        Tuple1((1L to 9L).toSeq))         // two windows
        .toDF("vals")
        .select(
          graft.functions.RollingHashFunctions.rollingFold(col("vals"), 131L, 1000000000000000L).as("f"),
          size(graft.functions.RollingHashFunctions.rollingWindows(col("vals"), 8, 131L, 1000000000000000L)).as("n"))
        .collect()
      assert(r(0).getLong(0) == 0L && r(0).getInt(1) == 0)
      assert(r(1).getLong(0) == 7L && r(1).getInt(1) == 0)
      assert(r(2).getInt(1) == 2)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("null tokens: native expressions match their reference forms' null handling") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // concat_ws / array_join SKIP nulls (no doubled separator) — the
    // native grams/winnow must produce the same joined bytes
    val df = Seq(Tuple1(Seq("a", null, "b", "c", "d", "e", "f")))
      .toDF("w")
      .select(col("w"),
        graft.functions.GramFunctions.distinctGrams(col("w"), 3).as("ng"),
        graft.ops.TextOps.shinglesLambda(col("w")).as("lg"),
        graft.functions.GramFunctions.gramMd5Hexes(col("w"), 3).as("nh"),
        graft.ops.Oracles.gramHashesLambda(3).as("lh"),
        graft.functions.WinnowFunctions.winnowFingerprints(col("w"), 3, 4).as("nw"))
      .select(col("ng"), col("lg"), col("nh"), col("lh"), col("nw"),
        graft.ops.Oracles.winnowShingles.as("sh"))
      .withColumn("w", lit(null)) // winnowSelection reads col("sh") only
      .select(col("ng"), col("lg"), col("nh"), col("lh"), col("nw"),
        graft.ops.Oracles.winnowSelection.as("lw"))
      .collect()(0)
    assert(df.getSeq[String](0) == df.getSeq[String](1), "distinct_grams null-skip")
    assert(df.getSeq[String](2) == df.getSeq[String](3), "gram_md5_hexes null-skip")
    assert(df.getSeq[String](4) == df.getSeq[String](5), "winnow null-skip")
    // simhash: a null token votes -1 on every bit (the aggregation form's
    // otherwise(-1)), so nulls can only pull bits low
    val sh = spark.sql(
      "SELECT simhash_bits(array('x', CAST(NULL AS STRING), CAST(NULL AS STRING)), 16)")
      .collect()(0).getLong(0)
    assert(sh == 0L, s"one +1 vote can never beat two -1 votes: $sh")
    // new families callable from SQL after registration
    val r = spark.sql(
      """SELECT size(distinct_grams(array('a','b','c','d'), 3)),
        |       size(gram_md5_hexes(array('a','b','c','d'), 3)),
        |       rolling_hash_fold(array(CAST(7 AS BIGINT)), 131, 1000000000000000),
        |       size(rolling_hash_windows(array(CAST(7 AS BIGINT)), 8, 131, 1000000000000000))""".stripMargin)
      .collect()(0)
    assert(r.getInt(0) == 2 && r.getInt(1) == 2 && r.getLong(2) == 7L && r.getInt(3) == 0)
  }

  test("simhash_bits matches the column-wise aggregation form, 16 and 64 bit") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n16 = rows(graft.ops.TextOps.x7Simhash(spark, sf0001))
    val a16 = rows(graft.ops.TextOps.x7SimhashAggForm(spark, sf0001))
    assert(n16 == a16, "16-bit simhash diverges from the aggregation form")
    val n64 = rows(graft.ops.PipelineOps.x23Fingerprints(spark, sf0001))
    val a64 = rows(graft.ops.PipelineOps.x23FingerprintsAggForm(spark, sf0001))
    assert(n64 == a64, "64-bit simhash diverges from the aggregation form")
    // plan: the native fingerprint is shuffle-free (no explode, no exchange
    // before the output sort's range partitioning)
    val plan = graft.ops.TextOps.x7Simhash(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"native simhash must not explode:\n$plan")
    assert(!plan.contains("hashpartitioning"), s"native simhash must not shuffle on doc_id:\n$plan")
  }

  test("distinct_grams / gram_md5_hexes match the lambda formulations on the real corpus") {
    import org.apache.spark.sql.functions._
    val toksOf = graft.model.Tables.documents(spark, sf0001)
      .select(split(col("text"), " ").as("w"))
    // the lambda shingles form is only defined for >= 3 tokens (its
    // callers guard it) — compare under that same guard
    val bad = toksOf.filter(size(col("w")) >= 3)
      .select(
        graft.functions.GramFunctions.distinctGrams(col("w"), 3).as("ng"),
        graft.ops.TextOps.shinglesLambda(col("w")).as("lg"),
        graft.functions.GramFunctions.gramMd5Hexes(col("w"), 3).as("nh"),
        graft.ops.Oracles.gramHashesLambda(3).as("lh"))
      .filter(not(col("ng") <=> col("lg")) || not(col("nh") <=> col("lh"))).count()
    assert(bad == 0L, s"$bad documents diverge from the lambda gram formulations")
    val badShort = toksOf.filter(size(col("w")) < 3)
      .select(
        graft.functions.GramFunctions.distinctGrams(col("w"), 3).as("ng"),
        graft.functions.GramFunctions.gramMd5Hexes(col("w"), 3).as("nh"))
      .filter(size(col("ng")) =!= 0 || size(col("nh")) =!= 0).count()
    assert(badShort == 0L, "short docs must yield empty gram arrays")
    // interpreted path + edges
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      import spark.implicits._
      val r = Seq(Tuple1(Seq("a", "b", "a", "b", "a")), Tuple1(Seq("x")))
        .toDF("w")
        .select(
          graft.functions.GramFunctions.distinctGrams(col("w"), 3).as("g"),
          graft.functions.GramFunctions.gramMd5Hexes(col("w"), 3).as("h"))
        .collect()
      assert(r(0).getSeq[String](0) == Seq("a b a", "b a b")) // dedup, encounter order
      assert(r(0).getSeq[String](1).forall(_.matches("[0-9a-f]{32}")))
      assert(r(1).getSeq[String](0).isEmpty && r(1).getSeq[String](1).isEmpty)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("winnow_fingerprints matches the lambda formulation on the real corpus") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions._
    // native vs the shingle+selection HOF chain it replaced, over the
    // real token distribution — identical arrays (values AND order)
    val docs = graft.model.Tables.documents(spark, sf0001)
      .select(split(col("text"), " ").as("w"))
      .select(col("w"),
        graft.functions.WinnowFunctions.winnowFingerprints(col("w"), 3, 4).as("native"))
      .select(col("native"), graft.ops.Oracles.winnowShingles.as("sh"))
      .select(col("native"), graft.ops.Oracles.winnowSelection.as("lambda"))
    val bad = docs.filter(not(col("native") <=> col("lambda"))).count()
    assert(bad == 0L, s"$bad documents diverge from the lambda winnowing")
    // random token streams incl. repeats and short arrays (edge geometry)
    val rng = new scala.util.Random(11)
    import spark.implicits._
    val rand = (1 to 300).map { _ =>
      Tuple1((0 until rng.nextInt(12)).map(_ => s"t${rng.nextInt(5)}"))
    }.toDF("w")
      .select(col("w"),
        graft.functions.WinnowFunctions.winnowFingerprints(col("w"), 3, 4).as("native"))
      .select(col("native"), graft.ops.Oracles.winnowShingles.as("sh"))
      .select(col("native"), graft.ops.Oracles.winnowSelection.as("lambda"))
    assert(rand.filter(not(col("native") <=> col("lambda"))).count() == 0L)
    // interpreted path parity + SQL registration
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val r = spark.sql(
        """SELECT winnow_fingerprints(array('a','b','c','d','e','f','g'), 3, 4) AS f,
          |       winnow_fingerprints(array('a','b'), 3, 4) AS short""".stripMargin)
        .collect()(0)
      assert(r.getSeq[String](0).nonEmpty && r.getSeq[String](1).isEmpty)
      assert(r.getSeq[String](0).forall(_.matches("[0-9a-f]{32}")))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
