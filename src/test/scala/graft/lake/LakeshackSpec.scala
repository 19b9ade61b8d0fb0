package graft.lake

import graft.{Fixtures, SparkSpec}
import graft.Fixtures.NaiveTs
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** End-to-end query semantics ported from the reference
  * (tests/test_lakeshack.py:198-355). Golden values are regenerated from
  * our own fixture (SURVEY.md §5) by brute-force full scans, so every
  * assertion is `pruned-scan result == unpruned result` — the exact
  * may-contain contract.
  */
class LakeshackSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tmpDir("ls_fixture")
    Fixtures.generate(spark, d, NaiveTs)
    d
  }
  private lazy val all = Fixtures.read(spark, dir).cache()
  private lazy val shack = Lakeshack(spark, dir, "id", Seq("timestamp"))
  private lazy val id0: String = all.agg(min("id")).first().getString(0)

  test("point query returns exactly the rows with that id") {
    val expected = all.where(col("id") === id0)
    val got = shack.query(Seq(id0))
    assert(got.count() === expected.count())
    assert(got.agg(sum("x")).first().getLong(0) === expected.agg(sum("x")).first().getLong(0))
  }

  test("multi-value query with projection (reference 31-rows/2-cols/sum shape)") {
    val ids = all.select("id").distinct().orderBy("id").limit(10)
      .collect().map(_.getString(0)).toSeq
    val got = shack.query(ids, columns = Some(Seq("id", "x")))
    assert(got.columns.toSeq === Seq("id", "x"))
    val expected = all.where(col("id").isin(ids: _*))
    assert(got.count() === expected.count())
    assert(got.agg(sum("x")).first().getLong(0) === expected.agg(sum("x")).first().getLong(0))
  }

  test("timestamp clause filters at scan (reference 2-rows/609 shape)") {
    val cut = Fixtures.tsLit(NaiveTs, Fixtures.windowOf(0)._1 + 86400 * 10)
    val got = shack.query(Seq(id0), clauses = Seq(Clause("timestamp", "<=", cut)))
    val expected = all.where(col("id") === id0 && col("timestamp") <= lit(cut))
    assert(got.count() === expected.count())
  }

  test("metastore WITHOUT the timestamp column still filters the clause at scan") {
    // the load-bearing reference behavior (test_lakeshack.py:265-284):
    // pruning ignores the unknown column, the scan must still apply it
    val shackNoTs = Lakeshack(spark, dir, "id") // no optional columns
    val cut = Fixtures.tsLit(NaiveTs, Fixtures.windowOf(0)._1 + 86400 * 10)
    val got = shackNoTs.query(Seq(id0), clauses = Seq(Clause("timestamp", "<=", cut)))
    val expected = all.where(col("id") === id0 && col("timestamp") <= lit(cut))
    assert(got.count() === expected.count())
  }

  test("limit caps the result exactly (strictened n_records_max)") {
    val ids = all.select("id").distinct().limit(10).collect().map(_.getString(0)).toSeq
    val total = shack.query(ids).count()
    assert(shack.query(ids, limit = Some(5)).count() === math.min(5L, total))
  }

  test("scalar input coercion (queryOne)") {
    assert(shack.queryOne(id0).count() === all.where(col("id") === id0).count())
  }

  test("invalid operator raises, valid set is exactly the reference's six") {
    intercept[IllegalArgumentException] { Clause("timestamp", "!=", 1) }
    intercept[IllegalArgumentException] { Clause("timestamp", "between", 1) }
    for (op <- Seq(">=", ">", "=", "==", "<", "<=")) Clause("x", op, 1)
  }

  test("no surviving file yields an empty result with the projected schema") {
    val got = shack.query(Seq("zz"), columns = Some(Seq("id", "x"))) // beyond hex range
    assert(got.count() === 0)
    assert(got.columns.toSeq === Seq("id", "x"))
  }

  test("end-to-end query parity across all three timestamp variants") {
    // the reference runs its e2e suite per fixture variant
    // (tests/test_lakeshack.py:30-196); same here, compactly: point
    // query + timestamp clause must equal the unpruned scan on naive,
    // tz-aware, and date fixtures alike
    import graft.Fixtures.{DateTs, ZonedTs}
    for (v <- Seq(ZonedTs, DateTs)) {
      val d = tmpDir(s"ls_e2e_$v")
      Fixtures.generate(spark, d, v)
      val data = Fixtures.read(spark, d)
      val sh = Lakeshack(spark, d, "id", Seq("timestamp"))
      val vid = data.agg(min("id")).first().getString(0)
      assert(sh.query(Seq(vid)).count() === data.where(col("id") === vid).count(), s"$v: point")
      val cut = Fixtures.tsLit(v, Fixtures.windowOf(0)._1 + 86400 * 10)
      val got = sh.query(Seq(vid), clauses = Seq(Clause("timestamp", "<=", cut))).count()
      val exp = data.where(col("id") === vid && col("timestamp") <= lit(cut)).count()
      assert(got === exp, s"$v: timestamp clause")
    }
  }

  test("incremental ingest lifecycle: new files land, stats update, queries see them") {
    // the reference's primary workflow (docs/source/lakeshack.rst daily
    // loads): immutable files appended, Metastore.update harvests only
    // the new ones (left-anti), queries prune over old + new
    import spark.implicits._
    val d = tmpDir("ls_incr")
    val statsPath = tmpDir("ls_incr_stats")
    Fixtures.generate(spark, d, NaiveTs, nFiles = 4)
    Metastore.update(spark, statsPath, Metastore.build(spark, d, "id", Seq("timestamp")))
    val before = spark.read.parquet(statsPath).count()
    assert(before === 4)
    // day 2: four more files (distinct, later windows)
    Fixtures.generate(spark, s"$d/day2", NaiveTs, nFiles = 4)
    Metastore.update(spark, statsPath, Metastore.build(spark, d, "id", Seq("timestamp")))
    val statsDf = Metastore.load(spark, statsPath)
    assert(statsDf.count() === 8, "update must append only the 4 new files")
    // a value present only in the day-2 data is found through the stats
    val day2 = spark.read.parquet(s"$d/day2")
    val probe = day2.agg(max("id")).first().getString(0)
    val shack2 = new Lakeshack(spark, statsDf, Some(day2.schema))
    val expected = spark.read.option("recursiveFileLookup", "true").parquet(d)
      .where(col("id") === probe).count()
    assert(shack2.query(Seq(probe)).count() === expected && expected > 0)
  }

  test("pruned scan equals full scan for random value sets (may-contain property)") {
    // random keys and clauses, with and without a Bloom table: the rows
    // of a filter over the full table, and the scan reads the files the
    // telemetry counts. A fresh engine per query, so no async completion
    // of an earlier query can overwrite the telemetry under test
    val stats = Metastore.build(spark, dir, "id", Seq("timestamp")).cache()
    val bloom = BloomIndex.build(spark, dir, "id", expectedItemsPerFile = 100L).cache()
    val rng = new scala.util.Random(99)
    val hex = "0123456789abcdef"
    val ops = Seq(">=", ">", "=", "==", "<", "<=")
    for (withBloom <- Seq(false, true); _ <- 1 to 5) {
      val engine = new Lakeshack(spark, stats, dataPath = Some(dir))
      if (withBloom) engine.withBloom(bloom)
      val values = Seq.fill(5)(s"${hex(rng.nextInt(16))}${hex(rng.nextInt(16))}")
      val clauses = Seq.fill(rng.nextInt(3))(
        if (rng.nextBoolean()) Clause("x", ops(rng.nextInt(6)), rng.nextInt(500))
        else Clause("timestamp", ops(rng.nextInt(6)),
          Fixtures.tsLit(NaiveTs, Fixtures.windowOf(rng.nextInt(10))._1 + rng.nextInt(86400 * 20))))
      val df = engine.query(values, clauses)
      val filesScanned = engine.lastTelemetry.get.filesScanned
      val got = df.collect().map(r => (r.getAs[String]("id"), r.getAs[Int]("x"))).sorted
      val expected = all.where(col("id").isin(values: _*) && Clause.conjunction(clauses))
        .collect().map(r => (r.getAs[String]("id"), r.getAs[Int]("x"))).sorted
      assert(got === expected, s"pruned scan diverged from full scan for $values $clauses")
      assert(filesScanned === scanNumFiles(df), s"telemetry and scan disagree for $values $clauses")
    }
  }

  test("tolerateCorrupt skips a corrupted pruned file and returns the healthy rows") {
    val d = tmpDir("ls_corrupt")
    Fixtures.generate(spark, d, NaiveTs, nFiles = 4)
    val s = Lakeshack(spark, d, "id", Seq("timestamp"))
    // materialize the (lazy) cached stats BEFORE corrupting: otherwise
    // the first query would run the tolerant stats build over the
    // already-corrupt file, leave it un-indexed, and prune it away —
    // never exercising the scan-side tolerance under test
    assert(s.filesTotal === 4)
    val allIds = spark.read.parquet(d).select("id").distinct()
      .collect().map(_.getString(0)).toSeq
    val files = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toPath).sortBy(_.toString)
    assert(files.length === 4)
    // corrupt one file AFTER the stats build: it still survives pruning,
    // exactly the reference's mid-scan failure (lakeshack.py:223-230)
    java.nio.file.Files.write(files.head, "not a parquet file".getBytes)
    val healthy = files.tail.map(_.toString)
    val expected = spark.read.parquet(healthy: _*).count()
    // default: the corrupt file fails the whole query
    intercept[org.apache.spark.SparkException] {
      s.query(allIds).count()
    }
    // opt-in tolerance: every healthy file's rows come back
    assert(s.query(allIds, tolerateCorrupt = true).count() === expected)
  }

  test("tolerateCorrupt drops a missing pruned file (logged, counted)") {
    val d = tmpDir("ls_missing")
    val statsPath = tmpDir("ls_missing_stats")
    Fixtures.generate(spark, d, NaiveTs, nFiles = 4)
    Metastore.update(spark, statsPath, Metastore.build(spark, d, "id", Seq("timestamp")))
    // an engine over the data path, and one over the files the stats name
    val engines = Seq(Lakeshack.fromStats(spark, d, statsPath, "id", Seq("timestamp")),
      new Lakeshack(spark, Metastore.load(spark, statsPath)))
    engines.foreach(s => assert(s.filesTotal === 4)) // build both before deleting (see above)
    val allIds = spark.read.parquet(d).select("id").distinct()
      .collect().map(_.getString(0)).toSeq
    val files = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toPath).sortBy(_.toString)
    java.nio.file.Files.delete(files.head)
    val healthy = files.tail.map(_.toString)
    val expected = spark.read.parquet(healthy: _*).count()
    for (s <- engines) {
      // default: the missing file fails the query
      intercept[org.apache.spark.SparkException](s.query(allIds).collect())
      assert(s.query(allIds, tolerateCorrupt = true).collect().length === expected)
      val t = s.lastTelemetry.get
      assert(t.filesSkippedMissing === 1)
      assert(t.filesScanned === 3)
    }
    // built after the deletion, an engine over the stats' files refuses
    // to read partial
    intercept[java.io.FileNotFoundException] {
      new Lakeshack(spark, Metastore.load(spark, statsPath)).query(allIds)
    }
  }

  test("query telemetry reports prune counters and, after execution, rows + elapsed") {
    // fresh instance: async completions of EARLIER tests' queries target
    // their own instances and cannot clobber this one's lastTelemetry
    val own = Lakeshack(spark, dir, "id", Seq("timestamp"))
    val got = own.query(Seq(id0))
    val t0 = own.lastTelemetry.get
    assert(t0.nValues === 1)
    assert(t0.filesTotal === own.filesTotal && t0.filesTotal > 1)
    assert(t0.filesScanned >= 1 && t0.filesScanned < t0.filesTotal,
      s"a point query must prune: scanned ${t0.filesScanned}/${t0.filesTotal}")
    assert(t0.pruneSec >= 0.0 && t0.nRecords.isEmpty)
    val n = got.count()
    // the execution-side counters arrive via an async listener
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var t = own.lastTelemetry.get
    while (t.nRecords.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(50); t = own.lastTelemetry.get
    }
    assert(t.nRecords.contains(n), s"telemetry rows ${t.nRecords} != counted $n")
    assert(t.elapsedSec.exists(_ >= 0.0))
  }

  test("byte-level scan telemetry: pruned query scans fewer bytes than unpruned") {
    // fresh instance per query so async completions can't cross-clobber
    def bytesFor(values: Seq[Any]): (Long, Long, QueryTelemetry) = {
      val own = Lakeshack(spark, dir, "id", Seq("timestamp"))
      own.query(values).count()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var t = own.lastTelemetry.get
      while (t.bytesScanned.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(50); t = own.lastTelemetry.get
      }
      (t.bytesScanned.getOrElse(fail(s"no bytesScanned in $t")),
        t.scanFiles.getOrElse(fail(s"no scanFiles in $t")), t)
    }
    val allIds = spark.read.parquet(dir).select("id").distinct()
      .collect().map(_.getString(0)).toSeq
    val (bPoint, fPoint, tPoint) = bytesFor(Seq(id0))
    val (bAll, fAll, _) = bytesFor(allIds)
    assert(bPoint > 0L, "a pruned point query must still report non-zero bytes")
    assert(bPoint < bAll,
      s"point query must scan fewer bytes than the full-domain control ($bPoint vs $bAll)")
    // the executed plan's file count confirms the plan-time prune counter
    assert(fPoint === tPoint.filesScanned,
      s"physical numFiles $fPoint != prune counter ${tPoint.filesScanned}")
    assert(fPoint < fAll)
  }

  test("empty prune result reports zero-row telemetry immediately") {
    val before = shack.query(Seq("zz_no_such_id"))
    assert(before.count() === 0)
    val t = shack.lastTelemetry.get
    assert(t.filesScanned === 0 && t.nRecords.contains(0L) && t.elapsedSec.contains(0.0))
  }

  test("withBloom tightens point lookups on a badly-clustered table") {
    import spark.implicits._
    // UNCLUSTERED layout: round-robin keys, so every file's [min,max]
    // spans the whole domain and zone maps keep all files
    val d = tmpDir("ls_bloom") + "/t"
    (0L until 4000L).map(k => (k, s"p$k")).toDF("k", "payload")
      .repartition(8) // hash-ish spread, no clustering
      .write.parquet(d)
    val s = Lakeshack(spark, d, "k")
    assert(s.filesTotal === 8)
    // zone maps alone: the point query survives to (nearly) every file
    assert(s.query(Seq(1234L)).count() === 1)
    val zoneScanned = s.lastTelemetry.get.filesScanned
    assert(zoneScanned >= 7, s"unclustered layout should defeat zone maps, scanned $zoneScanned")
    // bloom attached: same rows, far fewer files
    s.withBloom(BloomIndex.build(spark, d, "k", expectedItemsPerFile = 1000L))
    assert(s.query(Seq(1234L)).count() === 1)
    val bloomScanned = s.lastTelemetry.get.filesScanned
    assert(bloomScanned <= 2, s"bloom should prune to ~1 file, scanned $bloomScanned")
    // may-contain soundness across many random probes
    val rng = new scala.util.Random(3)
    for (_ <- 1 to 10) {
      val ks = Seq.fill(3)(rng.nextInt(4000).toLong)
      assert(s.query(ks).count() ===
        spark.read.parquet(d).where(col("k").isin(ks: _*)).count())
    }
  }

  test("a stale bloom table never loses rows from files it does not index") {
    import spark.implicits._
    val d = tmpDir("ls_bloom_stale") + "/t"
    (0L until 1000L).map(k => (k, s"p$k")).toDF("k", "payload")
      .coalesce(2).write.parquet(d)
    val staleBloom = BloomIndex.build(spark, d, "k", expectedItemsPerFile = 1000L)
    staleBloom.cache().count() // snapshot BEFORE the new file lands
    // a new batch arrives after the bloom build; stats are rebuilt
    // (ingest updates stats every batch) but the bloom index is not
    Seq((50000L, "late")).toDF("k", "payload")
      .coalesce(1).write.mode("append").parquet(d)
    val s = Lakeshack(spark, d, "k").withBloom(staleBloom)
    // the late file is unknown to the bloom table → must survive the
    // intersection: the row comes back despite the stale index
    assert(s.queryOne(50000L).select("payload").first().getString(0) === "late")
  }

  test("clustered writer produces disjoint per-file ranges that prune to one file") {
    val out = tmpDir("ls_clustered")
    ClusteredWriter.write(all.toDF(), out, "id", nFiles = 5)
    val s = Metastore.build(spark, out, "id")
    val ranges = s.select("id_min", "id_max").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    assert(ranges.length === 5)
    for (Seq((_, aMax), (bMin, _)) <- ranges.toSeq.sliding(2))
      assert(aMax <= bMin, s"ranges must be disjoint-or-touching: $aMax vs $bMin")
    // a point query prunes to the small set of files whose range holds it
    val mid = ranges(2)._1
    val kept = Metastore.prune(spark, s, Seq(mid))
    assert(kept.size <= 2, s"well-clustered point query should prune to ~1 file, got ${kept.size}")
  }

  /** A lineitem-shaped table: 1500 long order keys, four lines each,
    * ship dates over 100 days, clustered into 8 files. */
  private lazy val lineitemRows = spark.range(0, 6000).selectExpr("id % 1500 as l_orderkey",
    "date_add(date'2000-01-01', cast(id div 1500 * 25 + id % 13 as int)) as l_shipdate",
    "id as l_linenumber")
  private lazy val lineitemDir: String = {
    val out = tmpDir("ls_lineitem")
    ClusteredWriter.write(lineitemRows, out, "l_orderkey", nFiles = 8)
    out
  }
  private lazy val lineitem: Lakeshack = Lakeshack(spark, lineitemDir, "l_orderkey", Seq("l_shipdate"))

  private def shipFloor(d: String) = Clause("l_shipdate", ">=", java.sql.Date.valueOf(d))

  test("a second query of the same shape compiles nothing") {
    // 2 keys and a date floor, then 2 other keys and another floor: one
    // filter shape, so the second query reuses every generated class
    assert(lineitem.query(Seq(5L, 900L), Seq(shipFloor("2000-01-08"))).collect().nonEmpty)
    val (keys, floor) = (Seq(17L, 1201L), shipFloor("2000-02-20"))
    val df = lineitem.query(keys, Seq(floor))
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val got = df.collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0,
      "new keys and a new date floor must not compile a new class")
    val want = lineitemRows.where(col("l_orderkey").isin(keys: _*) && floor.toColumn)
    assert(got.map(_.getLong(2)).sorted === want.collect().map(_.getLong(2)).sorted)
    assert(got.nonEmpty)
  }

  test("pushed filters keep the real values; the filter above the scan holds ParamLiterals") {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, In, Literal}
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    val plan = lineitem.query(Seq(5L, 6L), Seq(shipFloor("2000-01-08"))).queryExecution.executedPlan
    val scan = plan.collectFirst { case s: FileSourceScanExec => s }.get
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("In(l_orderkey, [5,6])"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate,2000-01-08)"), pushed)
    assert(scan.dataFilters.exists {
      case In(_, list) => list.toSet == Set(Literal(5L), Literal(6L))
      case _ => false
    }, scan.dataFilters)
    assert(scan.dataFilters.exists {
      case GreaterThanOrEqual(_, Literal(_, org.apache.spark.sql.types.DateType)) => true
      case _ => false
    }, scan.dataFilters)
    val filter = plan.collectFirst { case f: FilterExec => f.condition }.get
    val params = filter.collect { case p: graft.functions.ParamLiteral => p.toString }
    assert(params.toSet === Set("5", "6", "2000-01-08"), filter)
    assert(filter.collect { case l: Literal => l }.isEmpty, filter)
    // the plan reads as before: the ParamLiterals render their values
    assert(plan.toString.contains("l_orderkey#") && plan.toString.contains("IN (5,6)"), plan)
  }

  /** Σ numFiles over the parquet scans of a DataFrame's executed plan. */
  private def scanNumFiles(df: org.apache.spark.sql.DataFrame): Long =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metrics("numFiles").value
      }.sum

  test("a second query of the same shape lists no file") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics
    val own = Lakeshack(spark, lineitemDir, "l_orderkey", Seq("l_shipdate"))
    assert(own.query(Seq(5L, 900L), Seq(shipFloor("2000-01-08"))).collect().nonEmpty)
    val before = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val got = own.query(Seq(17L, 1201L), Seq(shipFloor("2000-02-20"))).collect()
    assert(HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - before === 0,
      "the engine's relation lists its files once, not per query")
    assert(got.nonEmpty)
  }

  test("a file under the data path that the stats do not know is scanned") {
    import spark.implicits._
    val root = tmpDir("ls_unknown")
    val (d, statsPath) = (s"$root/t", s"$root/stats")
    (0L until 100L).map(k => (k, s"p$k")).toDF("k", "payload").coalesce(1).write.parquet(d)
    Metastore.update(spark, statsPath, Metastore.buildFromFooters(spark, d, "k"))
    Seq((500L, "late")).toDF("k", "payload").coalesce(1).write.mode("append").parquet(d)
    val s = Lakeshack.fromStats(spark, d, statsPath, "k")
    assert(s.queryOne(500L).select("payload").collect().map(_.getString(0)).toSeq === Seq("late"))
    assert(s.filesTotal === 1)
    assert(s.lastTelemetry.get.filesScanned === 1, "the known file prunes, the unknown one is read")
  }
}
