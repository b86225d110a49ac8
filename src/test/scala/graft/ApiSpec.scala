package graft

import graft.api.GraftApi
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The public facade (graft.api.GraftApi) driven on SYNTHETIC frames with
  * caller-chosen column names — proving the kernels are genuinely
  * fixture-independent, not query-registry internals. */
class ApiSpec extends SparkTestBase {
  import spark.implicits._

  test("asOfJoin enriches probes with the latest earlier build row") {
    val build = Seq(("a", 10L, 1.0), ("a", 20L, 2.0), ("b", 15L, 9.0))
      .toDF("k", "bt", "price")
      .select($"k", timestamp_micros($"bt" * 1000000L).as("bt"), $"price")
    val probe = Seq(("a", 5L), ("a", 12L), ("a", 25L), ("b", 14L))
      .toDF("k", "pt")
      .select($"k", timestamp_micros($"pt" * 1000000L).as("pt"))
    val got = GraftApi.asOfJoin(probe, build, Seq("k"), "pt", "bt",
      Seq("price")).orderBy("k", "pt").collect()
      .map(r => (r.getAs[String]("k"),
        Option(r.getAs[java.lang.Double]("asof_price")).map(_.toDouble)))
    assert(got.toSeq == Seq(("a", None), ("a", Some(1.0)), ("a", Some(2.0)),
      ("b", None)))
    val fwd = GraftApi.asOfJoin(probe, build, Seq("k"), "pt", "bt",
      Seq("price"), forward = true).orderBy("k", "pt").collect()
      .map(r => Option(r.getAs[java.lang.Double]("asof_price")).map(_.toDouble))
    assert(fwd.toSeq == Seq(Some(1.0), Some(2.0), None, Some(9.0)))
  }

  test("asOfJoin returns the matched row's NULL and same-row values") {
    // r7 advisor: per-column last(ignoreNulls) skipped a matched build row
    // whose value was NULL (carrying an older row's value forward) and
    // could mix asof_* columns from different build rows. The row-marker
    // struct fixes both: the probe at t=12 matches the t=10 build row and
    // must surface ITS NULL price together with ITS qty.
    val build = Seq(("a", 5L, Some(1.0), 100L), ("a", 10L, None, 200L))
      .toDF("k", "bt", "price", "qty")
      .select($"k", timestamp_micros($"bt" * 1000000L).as("bt"),
        $"price", $"qty")
    val probe = Seq(("a", 12L)).toDF("k", "pt")
      .select($"k", timestamp_micros($"pt" * 1000000L).as("pt"))
    val r = GraftApi.asOfJoin(probe, build, Seq("k"), "pt", "bt",
      Seq("price", "qty")).collect().head
    assert(r.getAs[Any]("asof_price") == null,
      "matched row's NULL value must come back as NULL, not an older value")
    assert(r.getAs[Long]("asof_qty") == 200L,
      "all asof_* columns must come from the SAME matched build row")
  }

  test("asOfJoin on the fixtures equals the declared join_asof query") {
    // the facade and the declared query must be the SAME kernel — drive
    // the facade on the fixture frames and compare row-for-row
    val ev = U.events(spark, sfDir)
    val probe = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"))
    val build = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("value"))
    val viaApi = GraftApi.asOfJoin(probe, build, Seq("user_id"), "ts", "ts",
      Seq("ts", "value"))
      .select($"event_id", $"user_id", $"asof_ts", $"asof_value")
      .orderBy("event_id").collect().map(_.toString)
    val declared = SparkEntry.queries("join_asof")(spark, sfDir)
      .select($"event_id", $"user_id", $"asof_ts", $"asof_value")
      .orderBy("event_id").collect().map(_.toString)
    assert(viaApi.nonEmpty && viaApi.sameElements(declared))
  }

  test("sessionize numbers gap-separated sessions per key") {
    val df = Seq(("u", 0L), ("u", 100L), ("u", 5000L), ("u", 5100L),
      ("v", 0L)).toDF("who", "at")
      .select($"who", timestamp_micros($"at" * 1000000L).as("at"))
    val got = GraftApi.sessionize(df, "who", "at", gapSeconds = 1800)
      .orderBy("who", "at").collect()
      .map(r => (r.getAs[String]("who"), r.getAs[Long]("session_id")))
    assert(got.toSeq == Seq(("u", 1L), ("u", 1L), ("u", 2L), ("u", 2L),
      ("v", 1L)))
  }

  test("topKPerGroup returns bounded ranked groups") {
    val df = (1 to 100).map(i => (i % 5, i)).toDF("g", "x")
    val got = GraftApi.topKPerGroup(df, Seq("g"), "x", descending = true, 3)
    assert(got.count() == 15)
    val g0 = got.filter($"g" === 0).orderBy("rank").collect().map(_.getAs[Int]("x"))
    assert(g0.toSeq == Seq(100, 95, 90))
  }

  test("pageRank conserves micro-unit mass on a synthetic ring") {
    val edges = spark.range(0L, 1000L)
      .selectExpr("id AS u", "(id + 1) % 1000 AS v")
    val pr = GraftApi.pageRank(edges).collect()
    assert(pr.length == 50) // the top-k contract
    // a ring is degree-regular: every node ends at exactly uniform rank
    assert(pr.map(_.getAs[Long]("pr")).distinct.toSeq == Seq(1000000L))
  }

  test("connectedComponents labels two disjoint cliques separately") {
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("u", "v")
    val got = GraftApi.connectedComponents(e).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 1L)
    assert(got(10L) == 10L && got(11L) == 10L)
  }

  test("graph facades accept caller-supplied edge column names") {
    // r7 advisor: pageRank/connectedComponents hardcoded u/v despite the
    // facade's caller-supplied-names contract
    val edges = spark.range(0L, 1000L)
      .selectExpr("id AS src", "(id + 1) % 1000 AS dst")
    val pr = GraftApi.pageRank(edges, "src", "dst").collect()
    assert(pr.length == 50 &&
      pr.map(_.getAs[Long]("pr")).distinct.toSeq == Seq(1000000L))
    val e = Seq((1L, 2L), (10L, 11L)).toDF("from", "to")
    val cc = GraftApi.connectedComponents(e, "from", "to").collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("component")).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    U.releaseTracked()
  }

  test("hysteresisAlarm tie-breaks deterministically when asked") {
    // two rows tie at t=2: with the tiebreak the later seq (value 2.0,
    // below lo) must win the latch, deterministically run-over-run
    val df = Seq(("k", 1L, 11.0, 1L), ("k", 2L, 11.0, 2L), ("k", 2L, 2.0, 3L),
      ("k", 3L, 7.0, 4L)).toDF("g", "t", "v", "seq")
      .select($"g", timestamp_micros($"t" * 1000000L).as("t"), $"v", $"seq")
    val got = GraftApi.hysteresisAlarm(df, "g", "t", "v", hi = 10.0, lo = 3.0,
      tiebreak = Some("seq"))
      .orderBy("seq").collect().map(_.getAs[Long]("alarm"))
    assert(got.toSeq == Seq(1L, 1L, 0L, 0L))

    // asOfJoin: two build rows tie at (a, t=10); ordered by seq the later
    // one (price 2.0) is the match in both directions, whatever the input
    // row order
    def at(t: Column) = timestamp_micros(t * 1000000L)
    val bRows = Seq(("a", 10L, 1.0, 1L), ("a", 10L, 2.0, 2L))
    val probe = Seq(("a", 8L, 3L), ("a", 12L, 4L)).toDF("k", "pt", "seq")
      .select($"k", at($"pt").as("pt"), $"seq")
    for (rows <- Seq(bRows, bRows.reverse); fwd <- Seq(false, true)) {
      val build = rows.toDF("k", "bt", "price", "seq")
        .select($"k", at($"bt").as("bt"), $"price", $"seq")
      val hit = GraftApi.asOfJoin(probe, build, Seq("k"), "pt", "bt",
          Seq("price"), forward = fwd, tiebreak = Some("seq"))
        .filter($"seq" === (if (fwd) 3L else 4L))
        .collect().map(_.getAs[Double]("asof_price"))
      assert(hit.toSeq == Seq(2.0), s"forward=$fwd rows=$rows")
    }

    // rollingOls: the rows at t=2 tie; ordered by seq the values run
    // 1, 3, 5 and every 2-point slope is 2.0 (the other order would give
    // 4.0 then -2.0)
    val series = Seq(("k", 1L, 1.0, 1L), ("k", 2L, 5.0, 3L), ("k", 2L, 3.0, 2L))
      .toDF("g", "t", "v", "seq").select($"g", at($"t").as("t"), $"v", $"seq")
    val slopes = GraftApi.rollingOls(series, "g", "t", "v", window = 2,
        tiebreak = Some("seq"))
      .orderBy("seq").collect().map(_.getAs[Double]("slope"))
    assert(slopes.toSeq == Seq(2.0, 2.0))

    // sessionize needs no tiebreak: tied rows share their session
    // whatever their order
    val sess = GraftApi.sessionize(series, "g", "t", gapSeconds = 0)
      .orderBy("seq").collect().map(_.getAs[Long]("session_id"))
    assert(sess.toSeq == Seq(1L, 2L, 2L))
  }

  test("kalmanFilter on a constant series converges to the constant") {
    val df = (1 to 200).map(i => ("s1", i.toLong, 42.0))
      .toDF("sensor", "t", "reading")
      .select($"sensor", timestamp_micros($"t" * 1000000L).as("t"), $"reading")
    val r = GraftApi.kalmanFilter(df, "sensor", "t", "reading").collect().head
    assert(r.getAs[Double]("level") == 42.0) // constant input is a fixpoint
    val pStar = (-0.01 + math.sqrt(0.01 * 0.01 + 4 * 0.01)) / 2
    assert(math.abs(r.getAs[Double]("variance") - pStar) < 1e-3)
  }

  test("windowFunnel counts strict-prefix completion inside the window") {
    val df = Seq(
      ("a", 0L, "s1"), ("a", 10L, "s2"), ("a", 20L, "s3"), // full funnel
      ("b", 0L, "s1"), ("b", 10L, "s3"),                   // skips s2
      ("c", 0L, "s1"), ("c", 5000L, "s2"),                 // s2 out of window
      ("d", 0L, "s2")                                      // never anchors
    ).toDF("who", "at", "what")
      .select($"who", timestamp_micros($"at" * 1000000L).as("at"), $"what")
    val got = GraftApi.windowFunnel(df, "who", "at", "what",
      Seq("s1", "s2", "s3"), windowSeconds = 3600)
      .collect().map(r => r.getAs[String]("who") ->
        r.getAs[Long]("funnel_level")).toMap
    assert(got == Map("a" -> 3L, "b" -> 1L, "c" -> 1L, "d" -> 0L))
  }

  test("hysteresisAlarm latches between the thresholds") {
    val df = Seq(("k", 1L, 5.0), ("k", 2L, 11.0), ("k", 3L, 7.0),
      ("k", 4L, 11.0), ("k", 5L, 2.0), ("k", 6L, 7.0))
      .toDF("g", "t", "v")
      .select($"g", timestamp_micros($"t" * 1000000L).as("t"), $"v")
    val got = GraftApi.hysteresisAlarm(df, "g", "t", "v", hi = 10.0, lo = 3.0)
      .orderBy("t").collect()
      .map(r => (r.getAs[Long]("alarm"), r.getAs[Boolean]("is_onset")))
    // 5.0 below hi → off; 11 → ON(onset); 7 stays ON (latched);
    // 11 stays ON (no onset); 2 → OFF; 7 stays OFF
    assert(got.toSeq == Seq((0L, false), (1L, true), (1L, false),
      (1L, false), (0L, false), (0L, false)))
  }

  test("burstRuns / maxConcurrency equal their declared twins on fixtures") {
    val ev = U.events(spark, sfDir)
    val br = GraftApi.burstRuns(ev, "event_type", "ts")
      .select(col("event_type"), col("burst_start"), col("n_buckets"),
        col("n_events"))
      .orderBy("event_type", "burst_start").collect().map(_.toString)
    val brDecl = operators.TimeSeries.queries("ts_burst")(spark, sfDir)
      .select(col("event_type"), col("burst_start"),
        col("n_hours").as("n_buckets"), col("n_events"))
      .orderBy("event_type", "burst_start").collect().map(_.toString)
    assert(br.sameElements(brDecl)) // may be empty at sf0.001 — parity is the claim
    val mc = GraftApi.maxConcurrency(ev.withColumnRenamed("user_id", "who"),
        "who", "ts")
      .orderBy("day").collect().map(_.toString)
    val mcDecl = operators.TimeSeries
      .queries("ts_max_concurrency")(spark, sfDir)
      .orderBy("day").collect().map(_.toString)
    assert(mc.nonEmpty && mc.sameElements(mcDecl))
  }

  test("burstRuns flags a planted burst on a synthetic stream") {
    import spark.implicits._
    // 20 quiet buckets of 1 event + 4 hot buckets of 10 — one clear run
    val rows = (0 until 20).map(b => ("m", b.toLong * 3600L)) ++
      (20 until 24).flatMap(b => (0 until 10).map(i =>
        ("m", b.toLong * 3600L + i)))
    val df = rows.toDF("metric", "sec")
      .select($"metric", timestamp_micros($"sec" * 1000000L).as("at"))
    val got = GraftApi.burstRuns(df, "metric", "at").collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("n_buckets") == 4L)
    assert(got.head.getAs[Long]("n_events") == 40L)
  }

  test("rollingOls / spearmanCorr / hammingTopK equal their declared twins") {
    // the facade kernels on fixture frames must reproduce the declared
    // queries row-for-row (same exact trees, caller-named columns)
    // unique ts per user in the fixture? not guaranteed — disambiguate
    // exactly like the declared query does (event_id tiebreak)
    val viaApi = GraftApi.rollingOls(U.events(spark, sfDir), "user_id", "ts",
        "value", tiebreak = Some("event_id"))
      .select(col("event_id"), col("slope"), col("intercept"))
      .orderBy("event_id").collect().map(_.toString)
    val declared = operators.TimeSeries.queries("ts_rolling_ols")(spark, sfDir)
      .select(col("event_id"), col("slope"), col("intercept"))
      .orderBy("event_id").collect().map(_.toString)
    assert(viaApi.nonEmpty && viaApi.sameElements(declared))

    val sp = GraftApi.spearmanCorr(
        U.events(spark, sfDir).withColumn("us", unix_micros(col("ts"))),
        "event_type", "value", "us")
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Double]("spearman")))
    val spDecl = operators.Aggregations.queries("agg_spearman")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Double]("spearman")))
    assert(sp.nonEmpty && sp.sameElements(spDecl))

    val hk = GraftApi.hammingTopK(U.tbl(spark, sfDir, "embeddings"),
        "vec_id", "embedding", dims = 64, probeIds = 0L until 8L, k = 3)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val hkDecl = llm.Similarity.queries("sim_hamming_topk")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(hk.nonEmpty && hk.sameElements(hkDecl))
  }

  test("medianMad equals the declared agg_mad on the fixtures") {
    val viaApi = GraftApi.medianMad(
        U.events(spark, sfDir).withColumnRenamed("event_type", "kind"),
        "kind", "value")
      .orderBy("kind").collect().map(_.toString)
    U.releaseTracked()
    val declared = operators.Aggregations.queries("agg_mad")(spark, sfDir)
      .orderBy("event_type").collect().map(_.toString)
    assert(viaApi.nonEmpty && viaApi.sameElements(declared))
  }

  test("ingestBinaryDir frames and digest-dedups generated PNGs") {
    // real JDK PNG bytes on disk (the one codec this container ships) —
    // a driver-shipped media fixture would enter through this exact path
    val dir = U.scratch(sfDir, "ingest_png")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    def png(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 4)
        img.setRGB(x, y, (seed * 31 + y * 4 + x) * 7919 % 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def put(name: String, bytes: Array[Byte]): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(s"$dir/$name"))
      out.write(bytes); out.close()
    }
    put("a.png", png(1))
    put("b.png", png(2))
    put("dup_of_a.png", png(1)) // byte-identical content, different path
    put("notes.txt", "not an image".getBytes("UTF-8"))
    val all = api.GraftApi.ingestBinaryDir(spark, dir, dedupByDigest = false)
    assert(all.count() == 4)
    assert(all.filter($"mime" === "image/png").count() == 3)
    assert(all.filter($"mime" === "text/plain").count() == 1)
    val deduped = api.GraftApi.ingestBinaryDir(spark, dir,
      pathGlobFilter = Some("*.png"))
    val rows = deduped.collect()
    U.releaseTracked()
    assert(rows.length == 2, "byte-identical PNG must dedup to one keeper")
    // min-path keeper wins and the payload survives the semi-join intact
    assert(rows.exists(r => r.getAs[String]("path").endsWith("a.png")))
    assert(!rows.exists(r => r.getAs[String]("path").endsWith("dup_of_a.png")))
    val payload = rows.head.getAs[Array[Byte]]("payload")
    assert((payload(0) & 0xff) == 0x89 && payload(1) == 'P',
      "ingested payload lost its PNG magic")
    assert(rows.forall(r => r.getAs[Long]("n_bytes") ==
      r.getAs[Array[Byte]]("payload").length.toLong))
  }

  test("stronglyConnectedComponents labels a planted 3-cycle as one SCC") {
    // 1→2→3→1 is a cycle; 3→4→5 is a tail (each its own singleton SCC)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = GraftApi.stronglyConnectedComponents(edges, "src", "dst")
      .collect().map(r => (r.getAs[Long]("node"), r.getAs[Long]("scc_id"),
        r.getAs[Long]("scc_size"))).toSeq
    U.releaseTracked()
    assert(got == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 4L, 1L), (5L, 5L, 1L)))
  }

  test("stronglyConnectedComponents equals the declared graph_scc query") {
    import org.apache.spark.sql.functions.{col, collect_list, struct, explode}
    val li = U.tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        col("l_linenumber").as("ln"))
    val dirE = li.groupBy(col("ok"))
      .agg(collect_list(struct(col("ln"), col("pk"))).as("ps"))
      .select(explode(col("ps")).as("a"), col("ps"))
      .select(col("a"), explode(col("ps")).as("b"))
      .filter(col("a.ln") < col("b.ln") && col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("from"), col("b.pk").as("to")).distinct()
    val viaApi = GraftApi
      .stronglyConnectedComponents(dirE, "from", "to", nodeCap = 60)
      .orderBy("node").collect().toSeq
    val declared = operators.Graphs.queries("graph_scc")(spark, sfDir)
      .collect().toSeq
    U.releaseTracked()
    assert(viaApi == declared)
  }

  test("trussPeel keeps the two glued triangles, drops the pendant edge") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L),
      (5L, 1L) /* pendant, reversed on purpose */).toDF("x", "y")
    val got = GraftApi.trussPeel(edges, "x", "y")
      .collect().map(r => (r.getAs[Long]("u"), r.getAs[Long]("v"),
        r.getAs[Long]("support"))).toSeq
    U.releaseTracked()
    assert(got == Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 2L),
      (2L, 4L, 1L), (3L, 4L, 1L)))
  }

  test("paragraphDupStats flags the shared boilerplate window") {
    val boiler = (1 to 10).map(i => s"b$i").mkString(" ")
    val df = Seq(
      (1L, boiler + " " + (1 to 10).map(i => s"u$i").mkString(" ")),
      (2L, boiler + " " + (1 to 10).map(i => s"v$i").mkString(" ")),
      (3L, (1 to 20).map(i => s"w$i").mkString(" "))).toDF("pk", "body")
    val got = GraftApi.paragraphDupStats(df, "pk", "body")
      .orderBy("pk").collect()
      .map(r => (r.getAs[Long]("pk"), r.getAs[Long]("n_paras"),
        r.getAs[Long]("n_dup"), r.getAs[Long]("dup_micro"))).toSeq
    assert(got == Seq((1L, 2L, 1L, 500000L), (2L, 2L, 1L, 500000L),
      (3L, 2L, 0L, 0L)))
  }

  test("paragraphDupStats equals the declared dedup_paragraph on fixtures") {
    val viaApi = GraftApi.paragraphDupStats(
        U.tbl(spark, sfDir, "documents"), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val declared = llm.Dedup.queries("dedup_paragraph")(spark, sfDir)
      .collect().toSeq
    assert(viaApi == declared)
  }

  test("nearDupPairs finds the planted near-duplicate only") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 28).map(i => s"w$i").mkString(" ") + " x y"
    val other = (100 to 130).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("pk", "body")
    val got = GraftApi.nearDupPairs(df, "pk", "body").collect()
    assert(got.length == 1)
    assert(got.head.getAs[Long]("id_a") == 1L &&
      got.head.getAs[Long]("id_b") == 2L)
    assert(got.head.getAs[Double]("jaccard") > 0.8)
  }

  test("wassersteinDrift equals the declared agg_wasserstein on the fixtures") {
    val viaApi = GraftApi.wassersteinDrift(
        U.events(spark, sfDir).withColumnRenamed("event_type", "kind"),
        "kind", "value")
      .select(col("kind"), col("n_group").as("n_t"), col("n_all"), col("w1"))
      .orderBy("kind").collect().map(_.toString)
    U.releaseTracked()
    val declared = SparkEntry.queries("agg_wasserstein")(spark, sfDir)
      .orderBy("event_type").collect().map(_.toString)
    assert(viaApi.nonEmpty && viaApi.sameElements(declared))
  }

  test("wassersteinDrift of a shifted synthetic group equals the exact transport") {
    // group A = {1.00}, group B = {3.00}: pooled is half/half, so each
    // group's ECDF differs from the pooled by 1/2 across the 200-cent gap
    // => W1 = 1.00 for both groups
    val df = Seq(("A", 1.00), ("B", 3.00), ("A", 1.00), ("B", 3.00))
      .toDF("g", "v")
    val got = GraftApi.wassersteinDrift(df, "g", "v")
      .orderBy("g").collect()
    U.releaseTracked()
    assert(got.map(_.getAs[Double]("w1")).toSeq == Seq(1.0, 1.0))
  }

  test("bloomPrefilter has no false negatives and carries probe columns") {
    val build = (1 to 200).map(i => (i.toLong, s"document number $i"))
      .toDF("bid", "body")
    val probe = Seq((900L, "document number 17"), (901L, "unseen text a"),
      (902L, "document number 180"), (903L, "unseen text b"))
      .toDF("pid", "body")
    val got = GraftApi.bloomPrefilter(build, probe, "body")
      .orderBy("pid").collect()
    assert(got.length == 4)
    val hits = got.map(r => r.getAs[Long]("pid") -> r.getAs[Boolean]("bloom_hit"))
      .toMap
    // members MUST hit (Bloom guarantee); non-members usually miss at this
    // load factor but are not guaranteed to
    assert(hits(900L) && hits(902L))
    assert(got.forall(_.schema.fieldNames.contains("body")))
  }

  test("silhouette equals the declared emb_silhouette on the fixtures") {
    val viaApi = GraftApi.silhouette(
        U.tbl(spark, sfDir, "embeddings")
          .select(col("label").cast("long").as("label"), col("embedding")),
        "label", "embedding")
      .orderBy("label").collect().map(_.toString)
    U.releaseTracked()
    val declared = SparkEntry.queries("emb_silhouette")(spark, sfDir)
      .orderBy("label").collect().map(_.toString)
    assert(viaApi.nonEmpty && viaApi.sameElements(declared))
  }

  test("cusumAlarm fires on a planted sustained level shift only") {
    // 20 readings at 10.00, then 20 at 13.00 (mean 11.50): with k=1 the
    // post-shift drift is +0.50/step, so S⁺ crosses h=5 on the 11th
    // shifted reading — the alarm must fire in the second half only
    val rows = (0 until 40).map(i =>
      (1L, i.toLong, if (i < 20) 10.0 else 13.0)).toDF("m", "t", "x")
    val got = GraftApi.cusumAlarm(rows, "m", "t", "x", k = 1.0, h = 5.0)
      .orderBy("t").collect()
    val firstHigh = got.indexWhere(_.getAs[Boolean]("cusum_high"))
    assert(firstHigh >= 20, s"false high alarm at $firstHigh")
    assert(got.drop(30).forall(_.getAs[Boolean]("cusum_high")),
      "high alarm must latch once the drift accumulates")
    // symmetric: against the 11.50 global mean the FIRST half is a
    // sustained low regime — S⁻ must fire there and nowhere after the
    // shift resets it
    assert(got.take(20).exists(_.getAs[Boolean]("cusum_low")))
    assert(got.drop(25).forall(!_.getAs[Boolean]("cusum_low")))
  }

  test("cusumAlarm on the fixtures equals the declared ts_cusum_alarm") {
    val api = GraftApi.cusumAlarm(
      U.events(spark, sfDir).withColumnRenamed("event_type", "ty"),
      "ty", "ts", "value", tiebreak = Some("event_id"))
    val rolled = api.groupBy(col("ty"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("cusum_high"), 1L).otherwise(0L)).as("n_alarms_high"),
        sum(when(col("cusum_low"), 1L).otherwise(0L)).as("n_alarms_low"),
        min(when(col("cusum_high"), unix_micros(col("ts"))))
          .as("first_high_us"),
        min(when(col("cusum_low"), unix_micros(col("ts"))))
          .as("first_low_us"))
      .orderBy("ty").collect().map(_.toString)
    val declared = SparkEntry.queries("ts_cusum_alarm")(spark, sfDir)
      .collect().map(_.toString)
    assert(rolled.nonEmpty && rolled.sameElements(declared))
  }

  test("hampelFilter flags a planted spike and nothing else") {
    val xs = (0 until 30).map(i => if (i == 17) 99.0 else 10.0 + (i % 3))
    val rows = xs.zipWithIndex.map { case (x, i) => (1L, i.toLong, x) }
      .toDF("m", "t", "x")
    val got = GraftApi.hampelFilter(rows, "m", "t", "x").orderBy("t").collect()
    val flagged = got.filter(_.getAs[Boolean]("is_outlier"))
      .map(_.getAs[Long]("t")).toSet
    assert(flagged == Set(17L), s"flagged $flagged")
  }

  test("hampelFilter equals the declared ts_hampel on the fixtures") {
    val api = GraftApi.hampelFilter(
      U.events(spark, sfDir)
        .withColumn("tb", struct(col("ts"), col("event_id"))),
      "user_id", "tb", "value")
      .select(col("user_id"), col("tb.ts").as("ts"),
        col("tb.event_id").as("event_id"),
        (col("value").cast("decimal(12,2)") * 100).cast("long").as("vc"),
        col("med").as("med7"), col("mad").as("mad7"), col("is_outlier"))
      .orderBy("user_id", "ts", "event_id").collect().map(_.toString)
    val declared = SparkEntry.queries("ts_hampel")(spark, sfDir)
      .collect().map(_.toString)
    assert(api.nonEmpty && api.sameElements(declared))
  }

  test("silhouette separates two planted orthogonal clusters perfectly") {
    val vecs = (0 until 8).map { i =>
      val lbl = (i % 2).toLong
      val v = Array.fill(4)(0.0f)
      v(lbl.toInt) = 1.0f + 0.001f * (i / 2) // tight cluster per label
      (lbl, v.toSeq)
    }.toDF("lbl", "emb")
      .select(col("lbl"), col("emb").cast("array<float>"))
    val got = GraftApi.silhouette(vecs, "lbl", "emb").orderBy("lbl").collect()
    U.releaseTracked()
    assert(got.length == 2)
    // b (other centroid) is far, a (own) is tiny => mean_s near 1
    assert(got.forall(_.getAs[Double]("mean_s") > 0.9))
  }

  test("triadCensus equals the declared graph_triad_census on the fixtures") {
    // rebuild the same order-sequence edges the declared query derives
    val li = U.tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        col("l_linenumber").as("ln"))
    val e = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.ln") < col("b.ln") &&
          col("a.pk") =!= col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst")).distinct()
    val viaApi = GraftApi.triadCensus(e, "src", "dst")
      .collect().map(_.toString)
    val declared = SparkEntry.queries("graph_triad_census")(spark, sfDir)
      .collect().map(_.toString)
    assert(viaApi.nonEmpty && viaApi.sameElements(declared))
  }

  test("mmrSelect equals the declared emb_mmr on the fixtures") {
    val viaApi = GraftApi.mmrSelect(U.tbl(spark, sfDir, "embeddings"),
        "vec_id", "embedding", queryId = 0L, k = 5)
      .collect().map(_.toString)
    val declared = SparkEntry.queries("emb_mmr")(spark, sfDir)
      .collect().map(_.toString)
    assert(viaApi.sameElements(declared))
  }

  test("kmeansTrain equals the declared emb_kmeans on the fixtures") {
    val viaApi = GraftApi.kmeansTrain(U.tbl(spark, sfDir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 3)
      .collect().map(_.toString)
    U.releaseTracked()
    val declared = SparkEntry.queries("emb_kmeans")(spark, sfDir)
      .collect().map(_.toString)
    assert(viaApi.sameElements(declared))
  }

  test("ivfRecallCurve equals the declared sim_ivf_curve on the fixtures") {
    val viaApi = GraftApi.ivfRecallCurve(U.tbl(spark, sfDir, "embeddings"),
        "vec_id", "embedding", k = 16, nQueries = 10, probes = Seq(1, 2, 4))
      .collect().map(_.toString)
    U.releaseTracked()
    val declared = SparkEntry.queries("sim_ivf_curve")(spark, sfDir)
      .collect().map(_.toString)
    U.releaseTracked()
    assert(viaApi.sameElements(declared))
  }

  test("kaplanMeier / logRank / isotonicFit equal their declared twins") {
    import org.apache.spark.sql.functions._
    // caller-shaped lifetime frame = the survival queries' own lifetime
    // definition rebuilt from raw events
    val life = U.events(spark, sfDir)
      .withColumn("dayi", expr("unix_micros(ts) DIV 86400000000"))
      .groupBy(col("user_id"))
      .agg(min(col("dayi")).as("entry"),
        min(when(col("event_type") === "error", col("dayi"))).as("death"),
        max(col("dayi")).as("last"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
    val km = GraftApi.kaplanMeier(life, "entry", "death", "last", "arm")
      .collect().map(_.toString)
    U.releaseTracked()
    val kmQ = SparkEntry.queries("ts_kaplan_meier")(spark, sfDir)
      .collect().map(_.toString)
    U.releaseTracked()
    assert(km.sameElements(kmQ))
    val lr = GraftApi.logRank(life, "entry", "death", "last", "arm")
      .collect().map(_.toString)
    U.releaseTracked()
    val lrQ = SparkEntry.queries("agg_log_rank")(spark, sfDir)
      .collect().map(_.toString)
    U.releaseTracked()
    assert(lr.sameElements(lrQ))
    val daily = U.events(spark, sfDir)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(expr("CAST((1000000 * CAST(SUM(vc) AS DECIMAL(38,0))) " +
        "DIV COUNT(*) AS BIGINT)").as("y"))
    val iso = GraftApi.isotonicFit(daily, "event_type", "dayi", "y")
      .collect().map(_.toString)
    U.releaseTracked()
    val isoQ = SparkEntry.queries("ts_isotonic")(spark, sfDir)
      .collect().map(_.toString)
    U.releaseTracked()
    assert(iso.sameElements(isoQ))
  }

  test("dropoutMask / epochShuffle equal their declared twins") {
    val docs = U.tbl(spark, sfDir, "documents")
    val dm = GraftApi.dropoutMask(docs, "doc_id", "text")
      .collect().map(_.toString)
    val dmQ = SparkEntry.queries("pipeline_dropout_mask")(spark, sfDir)
      .collect().map(_.toString)
    assert(dm.sameElements(dmQ))
    val es = GraftApi.epochShuffle(docs, "doc_id")
      .collect().map(_.toString)
    U.releaseTracked()
    val esQ = SparkEntry.queries("pipeline_epoch_shuffle")(spark, sfDir)
      .collect().map(_.toString)
    U.releaseTracked()
    assert(es.sameElements(esQ))
  }

  test("pqSearch equals the declared sim_pq_adc on the fixtures") {
    val viaApi = GraftApi.pqSearch(U.tbl(spark, sfDir, "embeddings"),
        "vec_id", "embedding", nQueries = 10, nSub = 4, k = 16)
      .collect().map(_.toString)
    U.releaseTracked()
    val declared = SparkEntry.queries("sim_pq_adc")(spark, sfDir)
      .collect().map(_.toString)
    U.releaseTracked()
    assert(viaApi.sameElements(declared))
  }

  test("ivfRecallCurve / pqSearch select seeds+queries by RANKED ids") {
    // r10 advisor: the facade used raw `vec_id < n` thresholds, so a
    // caller frame whose ids are not dense from 0 (here: every id shifted
    // by +1000) silently returned empty/degenerate results. Seeds and
    // queries are now the n SMALLEST ids — a uniform shift must leave the
    // curve IDENTICAL and the search output identical up to the id shift.
    val shifted = U.tbl(spark, sfDir, "embeddings")
      .select((col("vec_id") + 1000L).as("vid"), col("embedding"))
    val curve = GraftApi.ivfRecallCurve(shifted, "vid", "embedding",
      k = 16, nQueries = 10, probes = Seq(1, 2, 4))
      .collect().map(_.toString)
    U.releaseTracked()
    val curveQ = SparkEntry.queries("sim_ivf_curve")(spark, sfDir)
      .collect().map(_.toString)
    U.releaseTracked()
    assert(curve.sameElements(curveQ),
      "a uniform id shift must not change the recall curve")
    val pq = GraftApi.pqSearch(shifted, "vid", "embedding",
        nQueries = 10, nSub = 4, k = 16)
      .collect()
      .map(r => (r.getAs[Long]("q_id") - 1000L, r.getAs[Long]("vec_id") - 1000L,
        r.getAs[Long]("adc_d2"), r.getAs[Long]("rank")).toString())
    U.releaseTracked()
    val pqQ = SparkEntry.queries("sim_pq_adc")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("adc_d2"), r.getAs[Long]("rank")).toString())
    U.releaseTracked()
    assert(pq.sameElements(pqQ),
      "pqSearch on shifted ids must equal the declared search shifted back")
  }

  test("ivfPqSearch equals the declared sim_ivfpq_adc on the fixtures") {
    val viaApi = GraftApi.ivfPqSearch(U.tbl(spark, sfDir, "embeddings"),
        "vec_id", "embedding")
      .collect().map(_.toString)
    U.releaseTracked()
    val declared = SparkEntry.queries("sim_ivfpq_adc")(spark, sfDir)
      .collect().map(_.toString)
    U.releaseTracked()
    assert(viaApi.sameElements(declared))
    // and the ranked-id rule: a uniform +1000 id shift shifts the output
    // ids and nothing else
    val shifted = GraftApi.ivfPqSearch(U.tbl(spark, sfDir, "embeddings")
        .select((col("vec_id") + 1000L).as("vid"), col("embedding")),
        "vid", "embedding")
      .collect()
      .map(r => (r.getAs[Long]("q_id") - 1000L, r.getAs[Long]("vec_id") - 1000L,
        r.getAs[Long]("d2"), r.getAs[Long]("rank")).toString())
    U.releaseTracked()
    val base = SparkEntry.queries("sim_ivfpq_adc")(spark, sfDir)
      .collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("d2"), r.getAs[Long]("rank")).toString())
    U.releaseTracked()
    assert(shifted.sameElements(base))
  }

  test("pqSearch derives the subspace width from the actual vector length") {
    // r10 advisor: pqCoded hard-coded 64/nSub, so any non-64-dim frame
    // sliced past/short of the array with no error. The width now comes
    // from the measured dimension: a 32-dim corpus must code 8-wide
    // subspaces and rank correctly; a mixed-dim frame must throw.
    def vec32(seed: Long): Seq[Float] =
      (0 until 32).map(i => (((seed * 31 + i * 17) % 13) - 6).toFloat)
    val df32 = (0L until 40L).map(i => (i, vec32(i))).toDF("vid", "emb")
    val got = GraftApi.pqSearch(df32, "vid", "emb",
      nQueries = 3, nSub = 4, k = 8).collect()
    U.releaseTracked()
    assert(got.length == 9, s"3 queries x top-3, got ${got.length}")
    assert(got.map(_.getAs[Long]("q_id")).toSet == Set(0L, 1L, 2L))
    val mixed = df32.unionByName(
      Seq((99L, vec32(99L).take(16))).toDF("vid", "emb"))
    val err = intercept[IllegalArgumentException] {
      GraftApi.pqSearch(mixed, "vid", "emb", nQueries = 3, nSub = 4, k = 8)
    }
    U.releaseTracked()
    assert(err.getMessage.contains("share one dimension"))
  }

  test("bootstrapCi / crostonForecast equal their declared twins") {
    val ev = U.events(spark, sfDir)
    val bc = GraftApi.bootstrapCi(ev, "event_type", "event_id", "value")
      .collect().map(_.toString)
    val bcQ = SparkEntry.queries("agg_bootstrap_ci")(spark, sfDir)
      .collect().map(_.toString)
    assert(bc.nonEmpty && bc.sameElements(bcQ))
    val demand = ev.filter(U.cents(col("value")) >= 9000L)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("d"))
      .agg(count(lit(1)).as("n"))
    val cf = GraftApi.crostonForecast(demand, "event_type", "d", "n")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getAs[java.lang.Long]("a_milli"),
        r.getAs[java.lang.Long]("forecast_milli")).toString())
    val cfQ = SparkEntry.queries("ts_croston")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getAs[java.lang.Long]("a_milli"),
        r.getAs[java.lang.Long]("forecast_milli")).toString())
    assert(cf.nonEmpty && cf.sameElements(cfQ))
  }

  test("ranked-id facades reject duplicate and null ids with clear errors") {
    // r11 advisor: smallestIds assumed unique non-null ids — a duplicate
    // id makes `vec_id <= seedCut` admit extra seeds/queries (recall can
    // exceed 1) and a null id NPEs at getLong. Both now fail fast at the
    // same validation layer as the dimension-uniformity check.
    def vec(seed: Long): Seq[Float] =
      (0 until 32).map(i => (((seed * 31 + i * 17) % 13) - 6).toFloat)
    val base = (0L until 30L).map(i => (i, vec(i))).toDF("vid", "emb")
    val dup = base.unionByName(Seq((5L, vec(99L))).toDF("vid", "emb"))
    val eDup = intercept[IllegalArgumentException] {
      GraftApi.pqSearch(dup, "vid", "emb", nQueries = 3, nSub = 4, k = 8)
    }
    U.releaseTracked()
    assert(eDup.getMessage.contains("duplicates"))
    val withNull = base.unionByName(
      Seq((Option.empty[Long], vec(7L))).toDF("vid", "emb"))
    val eNull = intercept[IllegalArgumentException] {
      GraftApi.ivfRecallCurve(withNull, "vid", "emb", k = 8, nQueries = 3)
    }
    U.releaseTracked()
    assert(eNull.getMessage.contains("null"))
  }

  test("knnGraph / spanDupStats / curriculum / tokenQuota equal their twins") {
    val docs = U.tbl(spark, sfDir, "documents")
    val kg = GraftApi.knnGraph(U.tbl(spark, sfDir, "embeddings"),
      "vec_id", "embedding").collect().map(_.toString)
    U.releaseTracked()
    val kgQ = SparkEntry.queries("sim_knn_graph")(spark, sfDir)
      .collect().map(_.toString)
    U.releaseTracked()
    assert(kg.sameElements(kgQ))
    val sd = GraftApi.spanDupStats(docs, "doc_id", "text")
      .collect().map(_.toString)
    U.releaseTracked()
    val sdQ = SparkEntry.queries("dedup_substring_spans")(spark, sfDir)
      .collect().map(_.toString)
    U.releaseTracked()
    assert(sd.sameElements(sdQ))
    val cu = GraftApi.curriculum(docs, "doc_id", "text")
      .collect().map(_.toString)
    U.releaseTracked()
    val cuQ = SparkEntry.queries("pipeline_curriculum")(spark, sfDir)
      .collect().map(_.toString)
    U.releaseTracked()
    assert(cu.sameElements(cuQ))
    // the batch quota facade must equal the STREAM's stateful verdicts
    val tq = GraftApi.tokenQuota(docs, "doc_id", "source", "text")
      .collect().map(_.toString)
    val tqQ = SparkEntry.queries("stream_token_quota")(spark, sfDir)
      .collect().map(_.toString)
    assert(tq.sameElements(tqQ),
      "batch prefix-quota must equal the streaming enforcement")
  }

  test("conformalInterval equals the declared agg_conformal_interval") {
    val ev = U.events(spark, sfDir)
      .select(col("event_type").as("grp"), col("user_id").as("uid"),
        col("value").as("amount"))
    val viaApi = GraftApi.conformalInterval(ev, "grp", "uid", "amount")
      .collect().map(_.toString)
    U.releaseTracked()
    val declared = SparkEntry.queries("agg_conformal_interval")(spark, sfDir)
      .collect()
      .map(r => r.toString)
    U.releaseTracked()
    assert(viaApi.sameElements(declared))
  }

  test("ebShrinkage shrinks low-n units on a planted caller frame") {
    import spark.implicits._
    // unit 1: 1/1 success (raw 100%); unit 2: 50/100; units 3-6 add rate
    // spread so the moment estimate of the prior is positive
    val trials = Seq.fill(1)((1L, 1L)) ++
      (1 to 100).map(i => (2L, if (i <= 50) 1L else 0L)) ++
      (1 to 40).map(i => (3L, if (i <= 10) 1L else 0L)) ++
      (1 to 40).map(i => (4L, if (i <= 30) 1L else 0L)) ++
      (1 to 40).map(i => (5L, if (i <= 20) 1L else 0L)) ++
      (1 to 40).map(i => (6L, if (i <= 36) 1L else 0L))
    val df = trials.toDF("unit", "won")
    val got = GraftApi.ebShrinkage(df, "unit", "won")
      .collect().map(r => r.getAs[Long]("unit") -> r).toMap
    // the 1-trial unit moves far toward the global rate; the 100-trial
    // unit barely moves
    val g = got(1L).getAs[Long]("global_micro")
    val move1 = math.abs(got(1L).getAs[Long]("shrunk_micro") - 1000000L)
    val move2 = math.abs(got(2L).getAs[Long]("shrunk_micro") - 500000L)
    assert(move1 > 10 * move2,
      s"1-trial unit must shrink much harder (moved $move1 vs $move2)")
    assert(math.abs(got(1L).getAs[Long]("shrunk_micro") - g) <
      math.abs(1000000L - g), "shrunk lies between raw and global")
  }

  test("matrixProfile finds the planted discord on a caller series") {
    import spark.implicits._
    // 30-point series: a repeating 3-period sawtooth, with a large spike
    // window starting at index 15
    val ys = (1 to 30).map { i =>
      val base = (i % 3) * 100L
      if (i >= 15 && i <= 17) base + 10000L else base
    }
    val df = ys.zipWithIndex.map { case (y, i) => ("s", i.toLong, y) }
      .toDF("series", "t", "v")
    val got = GraftApi.matrixProfile(df, "series", "t", "v").collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[String]("series") == "s"))
    def mpD2(r: org.apache.spark.sql.Row): BigInt =
      BigInt(r.getAs[String]("mp_d2"))
    val discord = got.maxBy(mpD2)
    // the discord window must contain the spike (windows 9..17 overlap it)
    val wi = discord.getAs[Long]("w_idx")
    assert(wi >= 9L && wi <= 17L, s"discord at $wi not over the spike")
    // sawtooth windows far from the spike see an exact repeat → mp = 0
    assert(got.count(r => mpD2(r) == BigInt(0)) >= 4)
  }

  test("rrfFuse blends two caller rank lists; singletons count once") {
    import spark.implicits._
    val a = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("q", "doc", "pos")
    val b = Seq((1L, 11L, 1L), (1L, 13L, 2L))
      .toDF("q", "doc", "pos")
    val got = GraftApi.rrfFuse(a, b, "q", "doc", "pos", k0 = 60, topK = 4)
      .orderBy("fused_rank").collect()
    assert(got.map(_.getAs[Long]("doc")).toSeq == Seq(11L, 10L, 13L, 12L))
    val top = got.head
    assert(top.getAs[Long]("rrf_micro") ==
      1000000L / 62 + 1000000L / 61, "doc 11 sums both lists' terms")
    assert(got(1).getAs[Long]("rrf_micro") == 1000000L / 61)
    assert(got(1).isNullAt(got(1).fieldIndex("rank_b")))
  }

  test("semDedup drops the larger id of each planted near-dup pair") {
    import spark.implicits._
    def vec(a: Double, b: Double): Seq[Float] =
      (Seq(a, b) ++ Seq.fill(62)(0.0)).map(_.toFloat)
    val df = Seq(
      (0L, vec(1.0, 0.0)),   // seed, region A
      (1L, vec(0.0, 1.0)),   // seed, region B
      (2L, vec(0.99, 0.01)), // near-copy of 0 -> dropped
      (3L, vec(0.01, 0.99)), // near-copy of 1 -> dropped
      (4L, vec(0.7, 0.7)))   // 45 deg off both -> kept
      .toDF("vid", "emb")
    val got = GraftApi.semDedup(df, "vid", "emb", k = 2)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    U.releaseTracked()
    assert(got == Map(0L -> true, 1L -> true, 2L -> false, 3L -> false,
      4L -> true))
    // a stricter threshold keeps everything
    val strict = GraftApi.semDedup(df, "vid", "emb", k = 2,
      simMilli = 1000).collect().map(_.getBoolean(2))
    U.releaseTracked()
    assert(strict.forall(identity))
  }

  test("aucRoc/prCurve/calibrationError on a planted predictions frame") {
    import spark.implicits._
    // perfect separation above/below 0.5 except one swapped pair
    val df = Seq(
      (900000L, 1L), (800000L, 1L), (700000L, 0L), // one FP high score
      (600000L, 1L), (300000L, 0L), (200000L, 0L), (100000L, 0L))
      .toDF("p", "y")
    val auc = GraftApi.aucRoc(df, "p", "y").collect().head
    U.releaseTracked()
    assert(auc.getAs[Long]("npos") == 3L && auc.getAs[Long]("nneg") == 4L)
    // pairs: pos beats neg in 11 of 12 (u2 = 22), auc = 11/12
    assert(auc.getAs[Long]("u2") == 22L)
    assert(auc.getAs[Long]("auc_micro") == 1000000L * 22 / 24)
    val pr = GraftApi.prCurve(df, "p", "y").collect()
      .map(r => r.getAs[Long]("thr") -> r).toMap
    assert(pr(500000L).getAs[Long]("tp") == 3L)
    assert(pr(500000L).getAs[Long]("fp") == 1L)
    assert(pr(500000L).getAs[Long]("precision_micro") == 750000L)
    assert(pr(500000L).getAs[Long]("recall_micro") == 1000000L)
    val ece = GraftApi.calibrationError(df, "p", "y").collect()
    U.releaseTracked()
    // bucket 9 (score 900k): conf 900000, acc 1e6 → gap 100000
    val b9 = ece.find(_.getAs[Long]("bucket") == 9L).get
    assert(b9.getAs[Long]("conf_micro") == 900000L)
    assert(b9.getAs[Long]("acc_micro") == 1000000L)
    assert(b9.getAs[Long]("gap_micro") == 100000L)
    assert(ece.map(_.getAs[Long]("ece_micro")).distinct.length == 1)
  }

  test("mmrSelect prefers diversity over redundancy on a planted corpus") {
    import spark.implicits._
    // query on e1; ids 1 and 2 are IDENTICAL off-axis vectors (equal
    // relevance ~0.91), id 4 is their mirror across e1 — same relevance,
    // but far from whichever twin is picked first. A relevance-only top-2
    // takes both twins (tiebreak); MMR must take one twin then the mirror
    def vec(a: Double, b: Double): Seq[Float] =
      (Seq(a, b) ++ Seq.fill(62)(0.0)).map(_.toFloat)
    val df = Seq(
      (0L, vec(1.0, 0.0)), (1L, vec(0.9, 0.4)), (2L, vec(0.9, 0.4)),
      (4L, vec(0.9, -0.4)))
      .toDF("vid", "emb")
    val got = GraftApi.mmrSelect(df, "vid", "emb", queryId = 0L, k = 2,
      relWeight = 0.5, divWeight = 0.5).orderBy("step").collect()
    assert(got.length == 2)
    assert(got(0).getAs[Long]("vid") == 1L, "step 1 = first twin by tiebreak")
    assert(got(1).getAs[Long]("vid") == 4L,
      "step 2 must jump to the mirror vector, not the identical twin")
  }
}
