package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Filtered aggregate pushdown ([[PushFilteredAggToManifest]]):
  * `SELECT count/min/max … WHERE c BETWEEN lo AND hi` over a snapshot
  * table must answer covered files from cached footers + a scan of
  * ONLY the boundary files, with the identical answer to the stock
  * scan, and every soundness gate must fall back silently. */
class FilteredAggSpec extends SparkSpec {
  import spark.implicits._

  private def register(cat: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[SnapshotCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
  }

  private def counters(): (Long, Long, Long) =
    (PushFilteredAggToManifest.served.get(),
      PushFilteredAggToManifest.coveredFiles.get(),
      PushFilteredAggToManifest.scannedFiles.get())

  test("range aggregate: covered files from footers, boundary files scanned") {
    val root = tmpDir("fagg")
    // 4 range-clustered files over id 0..999: interior files are fully
    // covered by [200, 799], the two boundary files scan
    val df = (0 until 1000).map(i => (i.toLong, s"r$i",
      if (i % 5 == 0) None else Some(i.toLong * 2))).toDF("id", "s", "v")
    SnapshotLog.write(df, s"$root/t", "overwrite", clusterColumn = Some("id"), nFiles = 4)
    register("fagg", root)
    val (s0, c0, n0) = counters()
    val q = spark.sql(
      "SELECT count(*) AS n, count(id) AS nid, count(s) AS ns, " +
        "min(id) AS mn, max(id) AS mx FROM fagg.t WHERE id BETWEEN 200 AND 799")
    val r = q.collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      (600L, 600L, 600L, 200L, 799L))
    val (s1, c1, n1) = counters()
    assert(s1 == s0 + 1, "the filtered manifest path must have served")
    assert(c1 - c0 >= 1, "at least one interior file must be footer-covered")
    assert(n1 - n0 <= 2, s"boundary scan must stay <= 2 files, got ${n1 - n0}")
    assert(c1 - c0 + (n1 - n0) <= 4)
    // plan audit: the substituted plan is a union of a LocalRelation
    // (covered partials) and a parquet scan of ONLY the boundary files
    // with the range predicate PUSHED — not a full-table scan
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.contains("LocalTableScan"),
      s"covered partials must plan as LocalTableScan:\n$planStr")
    assert(planStr.contains("PushedFilters: [IsNotNull(id), GreaterThanOrEqual(id,200)"),
      s"boundary scan must push the range into parquet:\n$planStr")
  }

  test("open-ended and exclusive bounds; equality point") {
    val root = tmpDir("fagg_b")
    SnapshotLog.write((0 until 400).map(i => (i.toLong, i % 7)).toDF("id", "g"),
      s"$root/t", "overwrite", clusterColumn = Some("id"), nFiles = 4)
    register("faggb", root)
    def one(sql: String): Seq[Long] =
      spark.sql(sql).collect().head.toSeq.map(_.asInstanceOf[Long])
    val s0 = PushFilteredAggToManifest.served.get()
    assert(one("SELECT count(*) AS n FROM faggb.t WHERE id >= 100") == Seq(300L))
    assert(one("SELECT count(*) AS n FROM faggb.t WHERE id > 99") == Seq(300L))
    assert(one("SELECT count(*) AS n FROM faggb.t WHERE id < 100") == Seq(100L))
    assert(one("SELECT count(*) AS n, min(id) AS mn FROM faggb.t WHERE id <= 99")
      == Seq(100L, 0L))
    // equality: lo = hi, inclusive both sides
    assert(one("SELECT count(*) AS n FROM faggb.t WHERE id = 250") == Seq(1L))
    // served for at least the unbounded-side shapes (equality may
    // cover nothing — a single point never spans a whole file)
    assert(PushFilteredAggToManifest.served.get() - s0 >= 4)
  }

  test("answers equal the stock scan on a column with nulls in range") {
    val root = tmpDir("fagg_n")
    // v null exactly where id % 5 == 0: count(v) under the range must
    // subtract per-file footer nulls, not guess
    val df = (0 until 1000).map(i => (i.toLong,
      if (i % 5 == 0) None else Some(i.toLong))).toDF("id", "v")
    SnapshotLog.write(df, s"$root/t", "overwrite", clusterColumn = Some("id"), nFiles = 4)
    register("faggn", root)
    val r = spark.sql(
      "SELECT count(*) AS n, count(id) AS nid FROM faggn.t WHERE id BETWEEN 100 AND 899")
      .collect().head
    assert((r.getLong(0), r.getLong(1)) == (800L, 800L))
    // count(v) for v != filter column: covered files carry v-nulls, so
    // the x-nulls==0 gate must refuse and fall back — identical answer
    val s0 = PushFilteredAggToManifest.served.get()
    val r2 = spark.sql(
      "SELECT count(v) AS nv FROM faggn.t WHERE id BETWEEN 100 AND 899").collect().head
    assert(r2.getLong(0) == 800L - 160L)
    assert(PushFilteredAggToManifest.served.get() == s0,
      "count(x) with x-nulls in covered files must NOT serve from footers")
  }

  test("soundness gates fall back: group-by, strings, avg, mixed-column disjunction") {
    val root = tmpDir("fagg_g")
    SnapshotLog.write((0 until 500).map(i => (i.toLong, s"s$i")).toDF("id", "s"),
      s"$root/t", "overwrite", clusterColumn = Some("id"), nFiles = 4)
    register("faggg", root)
    val s0 = PushFilteredAggToManifest.served.get()
    // avg is not a footer-derivable aggregate
    assert(spark.sql("SELECT avg(id) AS a FROM faggg.t WHERE id BETWEEN 100 AND 400")
      .collect().head.getDouble(0) == 250.0)
    // GROUP BY refuses
    assert(spark.sql(
      "SELECT id % 2 AS g, count(*) AS n FROM faggg.t WHERE id BETWEEN 0 AND 499 GROUP BY id % 2")
      .collect().length == 2)
    // RANGE-disjunctions refuse (not points, not a single range)
    assert(spark.sql(
      "SELECT count(*) AS n FROM faggg.t WHERE id < 10 OR id > 490").collect()
      .head.getLong(0) == 19L)
    // min/max on a STRING filter column refuses (truncation-inexact)
    assert(spark.sql(
      "SELECT count(*) AS n, min(s) AS mn FROM faggg.t WHERE s >= 's0' AND s <= 's99'")
      .collect().head.getLong(0) > 0L)
    assert(PushFilteredAggToManifest.served.get() == s0,
      "every gated shape must leave the stock plan untouched")
  }

  test("a DV-carrying file degrades to scanned PER-FILE; clean files still cover") {
    val root = tmpDir("fagg_dv")
    SnapshotLog.write((0 until 500).map(i => (i.toLong, s"s$i")).toDF("id", "s"),
      s"$root/t", "overwrite", clusterColumn = Some("id"), nFiles = 4)
    register("faggdv", root)
    // one dead row lands a deletion vector on the [250,374] file: its
    // footer counts see the dead row, so it must take the DV-applying
    // scan — while the clean interior file still answers from footers
    SnapshotLog.delete(spark, s"$root/t", col("id") === 250L)
    val (s0, c0, n0) = counters()
    val r = spark.sql(
      "SELECT count(*) AS n FROM faggdv.t WHERE id BETWEEN 100 AND 400").collect().head
    assert(r.getLong(0) == 300L, "the dead row must be excluded by the DV scan path")
    val (s1, c1, n1) = counters()
    assert(s1 == s0 + 1,
      "a stray DV must not disable the whole rewrite (per-file degradation)")
    assert(c1 - c0 >= 1, "the clean interior file still serves from footers")
    assert(n1 - n0 >= 1, "the DV-carrying file must be among the scanned")
  }

  test("UNFILTERED aggregate on a DV version: clean files from footers, DV file scans") {
    val root = tmpDir("fagg_udv")
    SnapshotLog.write((0 until 400).map(i =>
      (i.toLong, if (i % 4 == 0) None else Some(i.toLong))).toDF("id", "v"),
      s"$root/t", "overwrite", clusterColumn = Some("id"), nFiles = 4)
    register("faggudv", root)
    // clean version: the zero-job DSv2 ManifestAgg path owns it — the
    // resolution rule must NOT claim it
    val s0 = PushFilteredAggToManifest.served.get()
    val m0 = ManifestAgg.served.get()
    assert(spark.sql("SELECT count(*) AS n FROM faggudv.t").collect().head.getLong(0) == 400L)
    assert(PushFilteredAggToManifest.served.get() == s0)
    assert(ManifestAgg.served.get() == m0 + 1, "clean version: ManifestAgg serves")
    // one dead row lands a DV on the [100,199] file: count/min/max must
    // now serve the 3 clean files from footers and scan ONLY that file
    SnapshotLog.delete(spark, s"$root/t", col("id") === 150L)
    val (s1, c1, n1) = counters()
    val r = spark.sql(
      "SELECT count(*) AS n, count(v) AS nv, min(id) AS mn, max(id) AS mx FROM faggudv.t")
      .collect().head
    // 399 live rows; v null where id % 4 == 0 (100 nulls, the deleted
    // id=150 is non-null) -> count(v) = 299
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (399L, 299L, 0L, 399L))
    val (s2, c2, n2) = counters()
    assert(s2 == s1 + 1, "the DV version must serve through the unfiltered rewrite")
    assert(c2 - c1 == 3L, "the three clean files answer from footers")
    assert(n2 - n1 == 1L, "only the DV-carrying file scans")
  }

  test("IN-list and OR-of-points: point-footer files cover, non-members skip") {
    val root = tmpDir("fagg_in")
    val table = s"$root/t"
    // one k VALUE per file (what CLUSTER BY k converges to): member
    // files are footer-covered points, non-member files footer-skip
    for ((k, i) <- (0 until 5).zipWithIndex)
      SnapshotLog.write((0 until 100).map(j => ((k * 100 + j).toLong, k.toLong))
        .toDF("id", "k").coalesce(1), table, if (i == 0) "overwrite" else "append")
    register("faggin", root)
    val (s0, c0, n0) = counters()
    val r = spark.sql(
      "SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM faggin.t WHERE k IN (1, 3)")
      .collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (200L, 1L, 3L))
    val (s1, c1, n1) = counters()
    assert(s1 == s0 + 1 && c1 - c0 == 2 && n1 - n0 == 0,
      s"both member files must be footer-covered (cov=${c1 - c0}, scan=${n1 - n0})")
    // OR-of-equalities on one column ≡ IN-list
    val r2 = spark.sql(
      "SELECT count(*) AS n FROM faggin.t WHERE k = 0 OR k = 4").collect().head
    assert(r2.getLong(0) == 200L)
    assert(counters()._1 == s1 + 1, "OR-of-points must serve like IN")
    // IN over MULTI-VALUED footer intervals refuses to cover (the
    // member count inside such a file is not footer-derivable) — and
    // with zero coverable files the whole rewrite declines
    val r3 = spark.sql(
      "SELECT count(*) AS n FROM faggin.t WHERE id IN (50, 450)").collect().head
    assert(r3.getLong(0) == 2L)
    assert(counters()._1 == s1 + 1, "non-point files must NOT serve IN from footers")
    // IN intersected with a range on the same column
    val r4 = spark.sql(
      "SELECT count(*) AS n FROM faggin.t WHERE k IN (1, 3) AND k >= 2").collect().head
    assert(r4.getLong(0) == 100L)
  }

  test("IN-list + Bloom sidecar: a may-contain candidate proven absent skips, not scans") {
    val root = tmpDir("fagg_inb")
    val table = s"$root/t"
    // two POINT files (k=1, k=3) and one MIXED file k∈{0,2}: its footer
    // interval [0,2] CONTAINS member 1, so footers alone classify it
    // scanned — only its Bloom filter can prove no row is 1
    SnapshotLog.write((0 until 100).map(j => (j.toLong, 1L)).toDF("id", "k").coalesce(1),
      table, "overwrite")
    SnapshotLog.write((100 until 200).map(j => (j.toLong, 3L)).toDF("id", "k").coalesce(1),
      table, "append")
    SnapshotLog.write((200 until 300).map(j => (j.toLong, if (j % 2 == 0) 0L else 2L))
      .toDF("id", "k").coalesce(1), table, "append")
    SnapshotLog.buildBloom(spark, table, "k", expectedItemsPerFile = 200)
    register("fagginb", root)
    val (s0, c0, n0) = counters()
    val r = spark.sql(
      "SELECT count(*) AS n FROM fagginb.t WHERE k IN (1, 3)").collect().head
    assert(r.getLong(0) == 200L)
    val (s1, c1, n1) = counters()
    assert(s1 == s0 + 1 && c1 - c0 == 2,
      s"the two point files must be footer-covered (cov=${c1 - c0})")
    assert(n1 - n0 == 0,
      s"the mixed file must BLOOM-skip, not scan (scanned=${n1 - n0})")
    // control: without a member in the sidecar gap, a genuinely
    // may-containing file still scans — probe k IN (1, 2): the mixed
    // file really holds 2s and must be read
    val r2 = spark.sql(
      "SELECT count(*) AS n FROM fagginb.t WHERE k IN (1, 2)").collect().head
    assert(r2.getLong(0) == 150L)
    assert(counters()._3 - n1 == 1, "a true member-holder must scan")
  }

  test("GROUP BY the cluster column: point files ARE groups — rollup from footers") {
    val root = tmpDir("fagg_gb")
    val table = s"$root/t"
    // 4 point files (k = 0..3, with v-nulls) + one MIXED appended file
    // spanning k ∈ {2,3,4}: the rollup must take points from footers,
    // scan the mixed file, and fold both under one final GROUP BY
    for ((k, i) <- (0 until 4).zipWithIndex)
      SnapshotLog.write((0 until 50).map(j => ((k * 100 + j).toLong, k.toLong,
        if (j % 5 == 0) None else Some(j.toLong))).toDF("id", "k", "v").coalesce(1),
        table, if (i == 0) "overwrite" else "append")
    SnapshotLog.write((0 until 30).map(j =>
      (10000L + j, (2 + j % 3).toLong, Some(j.toLong))).toDF("id", "k", "v")
      .coalesce(1), table, "append")
    register("fagggb", root)
    val (s0, c0, n0) = counters()
    def run() = spark.sql(
      "SELECT k, count(*) AS n, count(v) AS nv, min(id) AS mn, max(id) AS mx " +
        "FROM fagggb.t GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val got = run()
    assert(got == Seq(
      (0L, 50L, 40L, 0L, 49L),
      (1L, 50L, 40L, 100L, 149L),
      (2L, 60L, 50L, 200L, 10027L),
      (3L, 60L, 50L, 300L, 10028L),
      (4L, 10L, 10L, 10002L, 10029L)), s"got $got")
    val (s1, c1, n1) = counters()
    assert(s1 == s0 + 1, "the grouped rollup must serve")
    assert(c1 - c0 == 4L, "the four point files answer from footers")
    assert(n1 - n0 == 1L, "only the mixed file scans")
    // the stock plan agrees (rule disabled)
    spark.conf.set("spark.graft.aggPushdown.filtered", "false")
    try assert(run() == got, "rewrite and stock rollup must agree")
    finally spark.conf.set("spark.graft.aggPushdown.filtered", "true")
    // sum() is not footer-derivable: the shape must fall back silently
    val s2 = PushFilteredAggToManifest.served.get()
    assert(spark.sql("SELECT k, sum(id) AS s FROM fagggb.t GROUP BY k")
      .collect().length == 5)
    assert(PushFilteredAggToManifest.served.get() == s2)

    // a WHERE on the group column composes: out-of-range point files
    // SKIP, in-range ones still cover, the mixed file scans filtered
    val (s3, c3, n3) = counters()
    def runW(where: String) = spark.sql(
      s"SELECT k, count(*) AS n, min(id) AS mn FROM fagggb.t $where GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val gotW = runW("WHERE k BETWEEN 1 AND 3")
    assert(gotW == Seq((1L, 50L, 100L), (2L, 60L, 200L), (3L, 60L, 300L)), s"got $gotW")
    val (s4, c4, n4) = counters()
    assert(s4 == s3 + 1 && c4 - c3 == 3 && n4 - n3 == 1,
      s"range rollup: 3 in-range points cover, k=0 skips, mixed scans " +
        s"(cov=${c4 - c3}, scan=${n4 - n3})")
    // IN on the group column
    val gotIn = runW("WHERE k IN (0, 4)")
    assert(gotIn == Seq((0L, 50L, 0L), (4L, 10L, 10002L)), s"got $gotIn")
    assert(counters()._1 == s4 + 1)
    // stock agreement, rule off
    spark.conf.set("spark.graft.aggPushdown.filtered", "false")
    try {
      assert(runW("WHERE k BETWEEN 1 AND 3") == gotW)
      assert(runW("WHERE k IN (0, 4)") == gotIn)
    } finally spark.conf.set("spark.graft.aggPushdown.filtered", "true")
    // a predicate touching a NON-group column refuses (stock plan)
    val s5 = PushFilteredAggToManifest.served.get()
    assert(spark.sql(
      "SELECT k, count(*) AS n FROM fagggb.t WHERE v > 3 GROUP BY k").collect().nonEmpty)
    assert(PushFilteredAggToManifest.served.get() == s5)
  }

  test("GROUP BY a STRING cluster column: the pinch invariant serves points exactly") {
    // String footer stats may be TRUNCATED — sound for bounds, not for
    // exact extrema — but a POINT (footerMin = footerMax = v) pinches:
    // v ≤ every value ≤ v forces all values equal to v, whatever
    // truncation produced the bounds (a truncated min shortens, a
    // truncated max increments — they can only report a point when the
    // values really are one). This pins footer-vs-stock agreement for
    // the string rollup, including a >64-byte shared value (past
    // typical truncation thresholds) and a mixed appended file.
    val root = tmpDir("fagg_gs")
    val table = s"$root/t"
    val longV = "k-" + ("x" * 120)
    for ((k, i) <- Seq("alpha", "bravo", "charlie", longV).zipWithIndex)
      SnapshotLog.write((0 until 40).map(j => ((i * 100 + j).toLong, k))
        .toDF("id", "k").coalesce(1), table, if (i == 0) "overwrite" else "append")
    SnapshotLog.write((0 until 30).map(j =>
      (10000L + j, Seq("bravo", "delta")(j % 2))).toDF("id", "k").coalesce(1),
      table, "append")
    register("fagggs", root)
    def run() = spark.sql(
      "SELECT k, count(*) AS n, min(id) AS mn, max(id) AS mx " +
        "FROM fagggs.t GROUP BY k ORDER BY k").collect().map(_.mkString("|")).toSeq
    val (s0, c0, n0) = counters()
    val got = run()
    val (s1, c1, n1) = counters()
    assert(s1 == s0 + 1, "the string rollup must serve from footers")
    assert(c1 - c0 >= 3, s"the short point files must cover (covered=${c1 - c0})")
    assert(n1 - n0 <= 2, s"only the mixed file (and at most the long-value file " +
      s"if its stats truncated) may scan (scanned=${n1 - n0})")
    spark.conf.set("spark.graft.aggPushdown.filtered", "false")
    try assert(run() == got, "string rollup must agree with the stock plan")
    finally spark.conf.set("spark.graft.aggPushdown.filtered", "true")
    // windowed: a string range on the group column skips out-of-range
    // points via the (bound-valid) truncated footers
    def runW() = spark.sql(
      "SELECT k, count(*) AS n FROM fagggs.t WHERE k >= 'b' AND k < 'c' " +
        "GROUP BY k ORDER BY k").collect().map(_.mkString("|")).toSeq
    val gotW = runW()
    assert(counters()._1 == s1 + 1)
    spark.conf.set("spark.graft.aggPushdown.filtered", "false")
    try assert(runW() == gotW, "windowed string rollup must agree with stock")
    finally spark.conf.set("spark.graft.aggPushdown.filtered", "true")
  }

  test("GROUP BY a DOUBLE cluster column: NaN files scan (stats suppressed), zero points normalize") {
    // Float soundness rests on two READER facts this test would catch
    // changing: parquet-java suppresses float/double chunk stats that
    // NaN contaminated (the NaN files harvest stats-less → scan, never
    // cover or skip), and widens zeros on read (min −0.0 / max +0.0)
    // — still an equiv-point under the SQL order (−0.0 = +0.0), whose
    // emitted key the final fold's GROUP BY normalizes exactly like
    // the stock plan. Classification order = runtime order
    // (SQLOrderingUtil), so no stats-bearing file can misclassify.
    val root = tmpDir("fagg_gd")
    val table = s"$root/t"
    SnapshotLog.write((0 until 40).map(j => (j.toLong, 1.5d))
      .toDF("id", "k").coalesce(1), table, "overwrite")
    SnapshotLog.write((0 until 20).map(j => (100L + j, Double.NaN))
      .toDF("id", "k").coalesce(1), table, "append") // stats suppressed → scans
    SnapshotLog.write((0 until 30).map(j => (200L + j, if (j % 2 == 0) -0.0d else 0.0d))
      .toDF("id", "k").coalesce(1), table, "append") // zero point: −0.0 = +0.0
    SnapshotLog.write(Seq((300L, 2.5d), (301L, 3.5d), (302L, Double.NaN))
      .toDF("id", "k").coalesce(1), table, "append") // mixed + NaN → scans
    register("fagggd", root)
    def run() = spark.sql(
      "SELECT k, count(*) AS n, min(id) AS mn, max(id) AS mx " +
        "FROM fagggd.t GROUP BY k ORDER BY k").collect().map(_.mkString("|")).toSeq
    val (s0, c0, n0) = counters()
    val got = run()
    val (s1, c1, n1) = counters()
    assert(s1 == s0 + 1, "the double rollup must serve")
    assert(c1 - c0 == 2, s"exactly the 1.5 point and the zeros point cover (covered=${c1 - c0})")
    assert(n1 - n0 == 2, s"exactly the two NaN-carrying files scan (scanned=${n1 - n0})")
    assert(got.count(_.startsWith("NaN|")) == 1, s"one folded NaN group, got $got")
    assert(got.exists(_.startsWith("0.0|30|")),
      s"the zeros group must emit NORMALIZED 0.0 with all 30 rows, got $got")
    spark.conf.set("spark.graft.aggPushdown.filtered", "false")
    try assert(run() == got, "double rollup must agree with the stock plan")
    finally spark.conf.set("spark.graft.aggPushdown.filtered", "true")
    // windowed: k >= 0.0 keeps the zeros point (−0.0 = +0.0 at runtime
    // AND in classification) and the NaN rows (NaN largest) — the NaN
    // files have no stats so they can never be wrongly skipped
    def runW() = spark.sql(
      "SELECT k, count(*) AS n FROM fagggd.t WHERE k >= 0.0 GROUP BY k ORDER BY k")
      .collect().map(_.mkString("|")).toSeq
    val gotW = runW()
    assert(gotW.exists(_.startsWith("0.0|30")), s"zeros group must pass k >= 0.0, got $gotW")
    assert(gotW.count(_.startsWith("NaN|")) == 1, s"NaN rows satisfy >= at runtime, got $gotW")
    spark.conf.set("spark.graft.aggPushdown.filtered", "false")
    try assert(runW() == gotW, "windowed double rollup must agree with stock")
    finally spark.conf.set("spark.graft.aggPushdown.filtered", "true")
  }

  test("filtered SUM/AVG serve from the agg-stats sidecar; boundary and uncollected files scan") {
    val root = tmpDir("fagg_sum")
    val table = s"$root/t"
    // 4 range-clustered files over id 0..999; v carries nulls (sum
    // skips them, the sidecar counts non-null); d is a double (the
    // collect must refuse it — float sums are order-dependent)
    val df = (0 until 1000).map(i => (i.toLong,
      if (i % 5 == 0) None else Some(i.toLong * 3), i * 0.5)).toDF("id", "v", "d")
    SnapshotLog.write(df, table, "overwrite", clusterColumn = Some("id"), nFiles = 4)
    register("faggsum", root)
    def run() = spark.sql(
      "SELECT count(*) AS n, sum(id) AS sid, avg(id) AS aid, " +
        "sum(v) AS sv, avg(v) AS av FROM faggsum.t WHERE id BETWEEN 200 AND 799")
      .collect().head.toSeq
    // BEFORE any collect: the sum shape must leave the stock plan
    val s0 = PushFilteredAggToManifest.served.get()
    val stockFirst = run()
    assert(PushFilteredAggToManifest.served.get() == s0,
      "sum/avg without a sidecar must keep the stock plan")
    // collect through the SQL procedure surface (id) + the API (v)
    assert(spark.sql("CALL faggsum.system.collect_agg_stats('t', 'id')")
      .collect().head.getLong(0) == 4L)
    assert(SnapshotLog.collectAggStats(spark, table, "v") == 4L)
    assert(SnapshotLog.collectAggStats(spark, table, "v") == 0L,
      "a second collect over an unchanged table is a no-op")
    // float columns refuse (rounding-order-dependent sums), as do
    // unknown columns
    intercept[IllegalArgumentException] {
      SnapshotLog.collectAggStats(spark, table, "d")
    }
    intercept[IllegalArgumentException] {
      SnapshotLog.collectAggStats(spark, table, "nope")
    }
    val (s1, c1, n1) = counters()
    val got = run()
    val (s2, c2, n2) = counters()
    assert(s2 == s1 + 1, "the sidecar-backed sum rewrite must serve")
    assert(c2 - c1 >= 1 && n2 - n1 <= 2,
      s"interior files cover, boundary scans (cov=${c2 - c1}, scan=${n2 - n1})")
    assert(got == stockFirst, s"sidecar fold must equal the stock scan: $got vs $stockFirst")
    // the answer algebra: ids 200..799 → n=600, sid=Σ, aid=499.5
    assert(got(0) == 600L && got(1) == (200L to 799L).sum && got(2) == 499.5d)
    // a file whose commit-time collect failed after the manifest claim
    // (its delta dirs deleted here) lacks sidecar rows: it must degrade
    // to scanned (it spans the range, so it can't skip) and the answer
    // must fold it in
    val statsDirs = Seq("v", "id")
      .map(n => new org.apache.hadoop.fs.Path(s"$table/_aggstats/$n"))
    val fs = statsDirs.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def deltas() = statsDirs.flatMap(fs.listStatus(_)).map(_.getPath).toSet
    val beforeAppend = deltas()
    SnapshotLog.write(Seq((500L, Some(7L), 0.5), (501L, None, 1.5))
      .toDF("id", "v", "d").coalesce(1), table, "append")
    (deltas() -- beforeAppend).foreach(fs.delete(_, true))
    val (s3, c3, n3) = counters()
    val got2 = run()
    val (s4, c4, n4) = counters()
    assert(s4 == s3 + 1 && n4 - n3 >= 1,
      s"the uncollected file must scan (cov=${c4 - c3}, scan=${n4 - n3})")
    assert(got2(0) == 602L && got2(3) == got(3).asInstanceOf[Long] + 7L,
      s"appended rows must fold into the sum: $got2")
    spark.conf.set("spark.graft.aggPushdown.filtered", "false")
    try assert(run() == got2, "post-append sidecar fold must equal stock")
    finally spark.conf.set("spark.graft.aggPushdown.filtered", "true")
    // AUTO-MAINTENANCE: a normal append on a sidecar-carrying table
    // collects its own (sum, count) rows at commit time, so the new
    // file COVERS without any re-CALL — and the stale uncollected file
    // above is picked up by one incremental collect
    SnapshotLog.write(Seq((502L, Some(11L), 2.5)).toDF("id", "v", "d")
      .coalesce(1), table, "append")
    assert(SnapshotLog.collectAggStats(spark, table, "v") == 1L,
      "only the file whose deltas were deleted should need the incremental collect")
    SnapshotLog.collectAggStats(spark, table, "id")
    val (s5, c5, n5) = counters()
    val got3 = run()
    val (s6, c6, n6) = counters()
    assert(s6 == s5 + 1 && n6 - n5 <= 2,
      s"auto-collected + re-collected files must cover; only range " +
        s"boundaries scan (cov=${c6 - c5}, scan=${n6 - n5})")
    assert(got3(0) == 603L && got3(3) == got2(3).asInstanceOf[Long] + 11L,
      s"the auto-collected row must fold into the sum: $got3")
    // UNFILTERED total sum/avg — the shape ManifestAgg can never serve
    // (footers carry no sums): covered files answer from the sidecar,
    // the one uncovered state left is none (all collected) → zero scan
    def runAll() = spark.sql(
      "SELECT count(*) AS n, sum(v) AS sv, avg(v) AS av, min(id) AS mn " +
        "FROM faggsum.t").collect().head.toSeq
    val (s7, c7, n7) = counters()
    val gotAll = runAll()
    val (s8, c8, n8) = counters()
    assert(s8 == s7 + 1, "the unfiltered sum must serve from the sidecar")
    assert(n8 - n7 == 0 && c8 - c7 == 6,
      s"a fully collected clean table reads ZERO files (cov=${c8 - c7}, scan=${n8 - n7})")
    spark.conf.set("spark.graft.aggPushdown.filtered", "false")
    try assert(runAll() == gotAll, "unfiltered sidecar fold must equal stock")
    finally spark.conf.set("spark.graft.aggPushdown.filtered", "true")
  }

  test("grouped SUM/AVG on a point-file layout: sidecar per file, all-null groups stay null") {
    val root = tmpDir("fagg_gsum")
    val table = s"$root/t"
    // point files k = 0..3; k=1's v is ALL NULL (its group's sum/avg
    // must stay null); a mixed appended file spans k ∈ {2,3,4}
    for ((k, i) <- (0 until 4).zipWithIndex)
      SnapshotLog.write((0 until 50).map(j => ((k * 100 + j).toLong, k.toLong,
        if (k == 1) None else if (j % 5 == 0) None else Some(j.toLong * 2)))
        .toDF("id", "k", "v").coalesce(1),
        table, if (i == 0) "overwrite" else "append")
    SnapshotLog.write((0 until 30).map(j =>
      (10000L + j, (2 + j % 3).toLong, Some(j.toLong))).toDF("id", "k", "v")
      .coalesce(1), table, "append")
    SnapshotLog.collectAggStats(spark, table, "v")
    SnapshotLog.collectAggStats(spark, table, "id")
    register("fagggsum", root)
    def run() = spark.sql(
      "SELECT k, count(*) AS n, sum(v) AS sv, avg(v) AS av, sum(id) AS sid " +
        "FROM fagggsum.t GROUP BY k ORDER BY k").collect().map(_.mkString("|")).toSeq
    val (s0, c0, n0) = counters()
    val got = run()
    val (s1, c1, n1) = counters()
    assert(s1 == s0 + 1, "the grouped sum rollup must serve")
    assert(c1 - c0 == 4 && n1 - n0 == 1,
      s"4 points cover, the mixed file scans (cov=${c1 - c0}, scan=${n1 - n0})")
    assert(got.exists(r => r.startsWith("1|50|null|null|")),
      s"the all-null-v group must keep null sum AND avg, got $got")
    spark.conf.set("spark.graft.aggPushdown.filtered", "false")
    try assert(run() == got, "grouped sidecar fold must equal the stock rollup")
    finally spark.conf.set("spark.graft.aggPushdown.filtered", "true")
    // WHERE on the group column composes with sums
    def runW() = spark.sql(
      "SELECT k, sum(v) AS sv, avg(v) AS av FROM fagggsum.t " +
        "WHERE k BETWEEN 1 AND 3 GROUP BY k ORDER BY k")
      .collect().map(_.mkString("|")).toSeq
    val gotW = runW()
    assert(counters()._1 == s1 + 1)
    spark.conf.set("spark.graft.aggPushdown.filtered", "false")
    try assert(runW() == gotW, "windowed grouped sum must equal stock")
    finally spark.conf.set("spark.graft.aggPushdown.filtered", "true")
  }

  test("grouped pre-gate: a large undeclared layout skips the harvest; a declared cluster column serves") {
    val root = tmpDir("fagg_pg")
    val table = s"$root/t"
    for ((k, i) <- (0 until 3).zipWithIndex)
      SnapshotLog.write((0 until 20).map(j => ((k * 100 + j).toLong, k.toLong))
        .toDF("id", "k").coalesce(1), table, if (i == 0) "overwrite" else "append")
    register("fagggp", root)
    def run() = spark.sql("SELECT k, count(*) AS n FROM fagggp.t GROUP BY k ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expect = Seq((0L, 20L), (1L, 20L), (2L, 20L))
    // cap 0, no declared cluster column: the rewrite must not even
    // harvest — stock rollup, correct answer, counters untouched
    spark.conf.set("spark.graft.aggPushdown.groupedMaxFiles", "0")
    try {
      val s0 = PushFilteredAggToManifest.served.get()
      assert(run() == expect)
      assert(PushFilteredAggToManifest.served.get() == s0,
        "over-cap undeclared layout must keep the stock rollup")
      // declaring k as the cluster column overrides the cap: the
      // harvest is worth paying exactly when the layout says it is
      SnapshotLog.setClusterBy(spark, table, Seq("k"))
      assert(run() == expect)
      assert(PushFilteredAggToManifest.served.get() == s0 + 1,
        "a declared cluster column must serve past the file cap")
    } finally spark.conf.unset("spark.graft.aggPushdown.groupedMaxFiles")
  }

  test("foldable-but-unevaluable literals (current_timestamp) degrade to the stock scan") {
    val root = tmpDir("fagg_ct")
    val df = (0 until 100).map(i => (i.toLong,
      java.sql.Timestamp.from(java.time.Instant.now().minusSeconds(i * 3600L))))
      .toDF("id", "ts")
    SnapshotLog.write(df, s"$root/t", "overwrite", clusterColumn = Some("ts"), nFiles = 2)
    register("faggct", root)
    val s0 = PushFilteredAggToManifest.served.get()
    // current_timestamp() is foldable yet UNEVALUABLE at resolution
    // (only the optimizer substitutes it): the dominant maintenance
    // shape must not fail analysis — it runs via the stock scan
    val n = spark.sql(
      "SELECT count(*) AS n FROM faggct.t WHERE ts >= current_timestamp() - INTERVAL 7 DAYS")
      .collect().head.getLong(0)
    assert(n == 100L, "all fixture rows are younger than 7 days")
    assert(PushFilteredAggToManifest.served.get() == s0,
      "the unevaluable bound must fall back, not serve or throw")
  }

  test("date-range aggregate on a TIMESTAMP cluster column (the dominant shape)") {
    val root = tmpDir("fagg_ts")
    // 365 days of events, clustered by ts into 4 files — the canonical
    // "how many rows in this date range" maintenance query
    val df = (0 until 365).flatMap(d => (0 until 4).map(h =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 0$h:00:00").toInstant
        .plusSeconds(d * 86400L), d.toLong)))
      .map { case (i, d) => (java.sql.Timestamp.from(i), d) }.toDF("ts", "day")
    SnapshotLog.write(df, s"$root/t", "overwrite", clusterColumn = Some("ts"), nFiles = 4)
    register("faggts", root)
    val (s0, c0, n0) = counters()
    val r = spark.sql(
      "SELECT count(*) AS n, min(ts) AS mn, max(ts) AS mx FROM faggts.t " +
        "WHERE ts BETWEEN TIMESTAMP '2024-02-01 00:00:00' AND TIMESTAMP '2024-11-30 23:59:59'")
      .collect().head
    // days 31 .. 334 inclusive = 304 days x 4 rows
    assert(r.getLong(0) == 304L * 4)
    assert(r.getTimestamp(1) == java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    assert(r.getTimestamp(2) == java.sql.Timestamp.valueOf("2024-11-30 03:00:00"))
    val (s1, c1, n1) = counters()
    assert(s1 == s0 + 1 && c1 - c0 >= 1 && n1 - n0 <= 2,
      s"timestamp range must serve from footers (covered=${c1 - c0}, scanned=${n1 - n0})")
  }

  test("two-column range over a Z-ORDERED table serves from footers on both dimensions") {
    val root = tmpDir("fagg_z")
    // 200x200 grid; Z-ordering gives every file a TIGHT interval on
    // BOTH dimensions — the multi-column coverage payoff (a range-
    // clustered table can only ever cover on its one cluster column)
    val df = (0 until 40000).map(i => (i.toLong, (i % 200).toLong, (i / 200).toLong))
      .toDF("id", "x", "y")
    SnapshotLog.write(df, s"$root/t", "overwrite")
    SnapshotLog.compactZ(spark, s"$root/t", Seq("x", "y"), nFiles = 16)
    register("faggz", root)
    val (s0, c0, n0) = counters()
    val r = spark.sql(
      "SELECT count(*) AS n FROM faggz.t " +
        "WHERE x BETWEEN 20 AND 179 AND y BETWEEN 20 AND 179").collect().head
    assert(r.getLong(0) == 160L * 160L)
    val (s1, c1, n1) = counters()
    assert(s1 == s0 + 1, "the two-column range must serve from footers")
    assert(c1 - c0 >= 1,
      "Z-interior files must classify covered on BOTH dimensions")
    assert(c1 - c0 + (n1 - n0) <= 16)
  }

  test("a covered file with nulls in TWO pred columns degrades to scanned (null gate)") {
    val root = tmpDir("fagg_mc")
    val table = s"$root/t"
    // file A: clean; file B: same value ranges but nulls in both x and y
    // — qualifying-row count is not footer-derivable there (the null
    // union is unknown), so B must take the scan path while A serves
    val a = (0 until 1000).map(i => (i.toLong,
      Option((i % 50).toLong), Option((i / 20).toLong))).toDF("id", "x", "y")
    val b = (0 until 1000).map(i => (i.toLong + 10000,
      if (i % 10 == 0) None else Some((i % 50).toLong),
      if (i % 7 == 0) None else Some((i / 20).toLong))).toDF("id", "x", "y")
    SnapshotLog.write(a.coalesce(1), table, "overwrite")
    SnapshotLog.write(b.coalesce(1), table, "append")
    register("faggmc", root)
    val (s0, c0, n0) = counters()
    val r = spark.sql(
      "SELECT count(*) AS n FROM faggmc.t " +
        "WHERE x BETWEEN 0 AND 49 AND y BETWEEN 0 AND 49").collect().head
    // A: all 1000 qualify; B: rows with BOTH x and y non-null =
    // 1000 − (100 + 143 − 15) = 772 (inclusion–exclusion)
    assert(r.getLong(0) == 1772L)
    val (s1, c1, n1) = counters()
    assert(s1 == s0 + 1)
    assert(c1 - c0 == 1L, "only the clean file may serve from footers")
    assert(n1 - n0 == 1L, "the two-null-column file must degrade to scanned")
  }

  test("sidecar sums are eval-mode-independent: an overflowing file is refused and scans") {
    val root = tmpDir("fagg_evalmode")
    val table = s"$root/t"
    // file A's exact sum (2·Long.MaxValue) exceeds long range; file B is clean
    SnapshotLog.write(Seq((1L, Long.MaxValue), (2L, Long.MaxValue))
      .toDF("id", "v").coalesce(1), table, "overwrite")
    SnapshotLog.write(Seq((3L, 10L), (4L, 32L)).toDF("id", "v").coalesce(1),
      table, "append")
    // collect under a LEGACY session: the decimal accumulator still
    // stores EXACT sums — a legacy collect can no longer wrap — and
    // the out-of-long-range file gets NO row (degrades to scanned)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try SnapshotLog.collectAggStats(spark, table, "v")
    finally spark.conf.set("spark.sql.ansi.enabled", "true")
    val rows = SnapshotLog.aggStatsFor(spark, table, "v").get.collect()
    assert(rows.length == 1 && rows.head.getLong(1) == 42L,
      s"overflowing file refused, clean file exact: ${rows.mkString(";")}")
    register("faggev", root)
    def q() = spark.sql("SELECT sum(v) AS sv FROM faggev.t")
    // LEGACY query: B serves covered, A scans and wraps — the fold
    // must equal the stock wrapped total (mod-2^64 associativity)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val (s0, _, n0) = counters()
      val got = q().collect().head.getLong(0)
      val (s1, _, n1) = counters()
      assert(s1 == s0 + 1 && n1 - n0 == 1,
        s"B covers, A scans (served=${s1 - s0}, scanned=${n1 - n0})")
      assert(got == Long.MaxValue + Long.MaxValue + 42L) // wrapped constant
      spark.conf.set("spark.graft.aggPushdown.filtered", "false")
      try assert(q().collect().head.getLong(0) == got,
        "legacy sidecar fold must equal the stock wrapped total")
      finally spark.conf.set("spark.graft.aggPushdown.filtered", "true")
    } finally spark.conf.set("spark.sql.ansi.enabled", "true")
    // ANSI query: A scans and the scan raises the overflow exactly like
    // the stock plan — never a silently wrapped answer served from a
    // legacy-collected sidecar (the round-17 ADVICE hole, closed)
    val ex = intercept[Exception] { q().collect() }
    def msgs(t: Throwable): String =
      String.valueOf(t.getMessage) + Option(t.getCause).map(msgs).getOrElse("")
    assert(msgs(ex).toLowerCase.contains("overflow"), s"expected overflow, got: $ex")
  }

  test("time-travel pin aggregates the PINNED version's files") {
    val root = tmpDir("fagg_tt")
    SnapshotLog.write((0 until 100).map(i => (i.toLong, 1)).toDF("id", "b"),
      s"$root/t", "overwrite", clusterColumn = Some("id"), nFiles = 4) // v0
    SnapshotLog.write((100 until 200).map(i => (i.toLong, 2)).toDF("id", "b"),
      s"$root/t", "append", clusterColumn = Some("id"), nFiles = 4) // v1
    register("faggtt", root)
    val r = spark.sql(
      "SELECT count(*) AS n, max(id) AS mx FROM faggtt.t VERSION AS OF 0 " +
        "WHERE id >= 10").collect().head
    assert((r.getLong(0), r.getLong(1)) == (90L, 99L))
    val r1 = spark.sql(
      "SELECT count(*) AS n, max(id) AS mx FROM faggtt.t WHERE id >= 10").collect().head
    assert((r1.getLong(0), r1.getLong(1)) == (190L, 199L))
  }
}
