package graft.lake

import graft.{Fixtures, SparkSpec}
import graft.Fixtures.{DateTs, NaiveTs, TsVariant, ZonedTs}
import org.apache.spark.sql.functions._

/** Boundary-pruning semantics ported from the reference
  * (tests/test_metastore.py:203-362): per-file min/max harvest matches
  * the data, pruning counts at interval endpoints are exact for every
  * operator, and all three timestamp variants behave identically.
  * The counts (0/1/10) are layout-guaranteed by the fixture's disjoint
  * windows with exact endpoint rows — they do not depend on the RNG.
  */
class MetastoreSpec extends SparkSpec {

  private lazy val dirs: Map[TsVariant, String] = Seq(NaiveTs, ZonedTs, DateTs).map { v =>
    val d = tmpDir(s"ms_fixture_$v")
    Fixtures.generate(spark, d, v)
    v -> d
  }.toMap

  private def stats(v: TsVariant) =
    Metastore.build(spark, dirs(v), "id", Seq("timestamp"))

  private def firstId(v: TsVariant): String =
    Fixtures.read(spark, dirs(v)).agg(min("id")).first().getString(0)

  /** One mid-file id per file — guaranteed interior, one per window. */
  private def perFileIds(v: TsVariant): Seq[String] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("id")
    Fixtures.read(spark, dirs(v))
      .select(col("id"), row_number().over(w).as("rn"))
      .where((col("rn") % 100) === 50).select("id").distinct()
      .collect().map(_.getString(0)).toSeq
  }

  test("build harvests exact per-file min/max (all variants)") {
    for (v <- Seq(NaiveTs, ZonedTs, DateTs)) {
      val s = stats(v).orderBy("filepath").collect()
      assert(s.length === 10, s"$v: expected 10 stats rows")
      val expected = Fixtures.read(spark, dirs(v))
        .groupBy(col("_metadata.file_path").as("filepath"))
        .agg(min("id"), max("id"), min("timestamp"), max("timestamp"))
        .orderBy("filepath").collect()
      assert(s.map(_.toSeq.drop(1)).toSeq === expected.map(_.toSeq.drop(1)).toSeq, s"$v: stats mismatch")
    }
  }

  test("buildFromFooters agrees with the data-scan builder (all variants)") {
    import spark.implicits._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    def agree(dir: String, opt: String, tag: String): Unit = {
      val a = Metastore.build(spark, dir, "id", Seq(opt))
        .orderBy("filepath").collect().map(_.toSeq.drop(1).toList).toList
      val b = Metastore.buildFromFooters(spark, dir, "id", Seq(opt))
        .orderBy("filepath").collect().map(_.toSeq.drop(1).toList).toList
      assert(a === b, s"$tag: footer stats != scan stats")
    }
    for (v <- Seq(NaiveTs, ZonedTs, DateTs)) agree(dirs(v), "timestamp", v.toString)

    // multi-row-group files where whole row groups of `x` are null: an
    // all-null row group carries no min/max, only its null count
    val nullGroups = tmpDir("ms_agree_nullrg") + "/t"
    (1L to 1000L).map(i => (i, if ((i > 200 && i <= 400) || i > 600) None else Some(i * 1.5)))
      .toDF("id", "x").repartitionByRange(2, col("id")).sortWithinPartitions("id")
      .write.option("parquet.block.size", "2048").parquet(nullGroups)
    val groups = new java.io.File(nullGroups).listFiles().filter(_.getName.endsWith(".parquet"))
      .toSeq.flatMap { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), spark.sparkContext.hadoopConfiguration))
        try r.getFooter.getBlocks.asScala.toSeq finally r.close()
      }
    assert(groups.exists { g =>
      val st = g.getColumns.asScala.find(_.getPath.toDotString == "x").get.getStatistics
      st.getNumNulls == g.getRowCount && !st.hasNonNullValue
    }, s"fixture must hold an all-null row group (${groups.size} row groups)")
    agree(nullGroups, "x", "all-null row group")

    // a schema-evolved column: absent from the old file's footer
    val evolved = tmpDir("ms_agree_evolve") + "/t"
    (1L to 100L).toDF("id").coalesce(1).write.parquet(evolved)
    (101L to 200L).map(i => (i, i * 2.0)).toDF("id", "score")
      .coalesce(1).write.mode("append").parquet(evolved)
    agree(evolved, "score", "schema-evolved column")
  }

  test("single-FILE tables get qualified filepaths from both builders") {
    import spark.implicits._
    val d = tmpDir("ms_single") + "/t"
    (1L to 100L).toDF("id").coalesce(1).write.parquet(d)
    val file = new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).head
    // point both builders at the bare FILE path (no scheme) — the exact
    // shape of /root/testdata/sf*/TABLE.parquet when it is one file
    val fromScan = Metastore.build(spark, file.getAbsolutePath, "id").collect()
    val fromFooters = Metastore.buildFromFooters(spark, file.getAbsolutePath, "id").collect()
    assert(fromScan.length === 1,
      "scan builder must emit a stats row for a single-file table (row-count guard join must key on qualified paths)")
    assert(fromFooters.length === 1)
    assert(fromScan.head.getString(0) === fromFooters.head.getString(0),
      "builders must agree on the filepath key")
    assert(fromScan.head.getString(0).startsWith("file:/"),
      "filepath must be scheme-qualified like FileStatus paths")
  }

  test("hive-partitioned layouts: a partition-valued stat column stays resolvable") {
    import spark.implicits._
    val d = tmpDir("ms_hive") + "/t"
    (1L to 200L).map(i => (i, s"p${i % 2}")).toDF("id", "part")
      .repartition(2, col("part")).write.partitionBy("part").parquet(d)
    // footer builder: the column lives in directory names, not footers —
    // NULL bounds (sound, never pruned on it), but the build must not throw
    val fromFooters = Metastore.buildFromFooters(spark, d, "id", Seq("part"))
    assert(fromFooters.count() >= 2)
    assert(fromFooters.collect().forall(_.isNullAt(fromFooters.columns.indexOf("part_min"))))
    // scan builder: partition values are real per-file constants
    val fromScan = Metastore.build(spark, d, "id", Seq("part"))
    val byPart = fromScan.collect()
      .map(r => r.getString(r.fieldIndex("part_min")) -> r.getString(r.fieldIndex("part_max")))
    assert(byPart.nonEmpty && byPart.forall { case (mn, mx) => mn == mx },
      "each file lives in exactly one partition")
  }

  test("schema evolution: a late-added column gets NULL bounds for old files and prunes soundly") {
    import spark.implicits._
    val d = tmpDir("ms_evolve") + "/t"
    // batch 1: the original schema; batch 2 adds a score column
    (1L to 100L).toDF("id").coalesce(1).write.parquet(d)
    (101L to 200L).map(i => (i, i * 2.0)).toDF("id", "score")
      .coalesce(1).write.mode("append").parquet(d)
    for ((stats, tag) <- Seq(
        Metastore.build(spark, d, "id", Seq("score")) -> "scan",
        Metastore.buildFromFooters(spark, d, "id", Seq("score")) -> "footer")) {
      val rows = stats.orderBy("id_min").collect()
      assert(rows.length === 2, s"$tag: one stats row per file")
      assert(rows(0).isNullAt(rows(0).fieldIndex("score_min")),
        s"$tag: pre-evolution file must have NULL score bounds")
      assert(rows(1).getDouble(rows(1).fieldIndex("score_min")) === 202.0, s"$tag: new file's bounds real")
      // pruning on the evolved column: the old file has NULL bounds ->
      // never pruned (may-contain); the new file prunes normally
      val hit = Metastore.prune(spark, stats, Seq(50L),
        Seq(Clause("score", ">", 1000.0)))
      assert(hit.size === 1 && spark.read.parquet(hit.head).columns.sameElements(Array("id")),
        s"$tag: value 50 lives in the old file, which a score clause must not prune")
    }
  }

  test("update is idempotent (left-anti skip of existing filepaths)") {
    val statsPath = tmpDir("ms_stats")
    val s = stats(NaiveTs)
    Metastore.update(spark, statsPath, s)
    Metastore.update(spark, statsPath, s) // second update must be a no-op
    assert(spark.read.parquet(statsPath).count() === 10)
    // and a partial re-update with one new row only appends that row
    val one = s.limit(1).withColumn("filepath", lit("synthetic://new-file"))
    Metastore.update(spark, statsPath, one)
    assert(spark.read.parquet(statsPath).count() === 11)
  }

  test("pruning boundary counts match the reference for every operator") {
    for (v <- Seq(NaiveTs, ZonedTs, DateTs)) {
      val s = stats(v).cache()
      val ids = perFileIds(v)
      val id0 = firstId(v)
      val (e0min, e0max) = Fixtures.windowOf(0)
      val min0 = Fixtures.tsLit(v, e0min)
      val max0 = Fixtures.tsLit(v, e0max)
      val med = Fixtures.tsLit(v,
        java.time.LocalDateTime.of(2021, 8, 1, 12, 34, 56).toEpochSecond(java.time.ZoneOffset.UTC), 123)

      def nFiles(values: Seq[Any], clauses: Seq[Clause]): Int =
        Metastore.prune(spark, s, values, clauses).size

      // every requested id hits >= its own file, each hit within [min,max]
      val pairs = PruneReference.prunePairs(spark, s, ids).collect()
      assert(pairs.map(_.getString(0)).distinct.length >= 10, s"$v: 10 per-file ids must hit all files")

      assert(nFiles(ids, Seq(Clause("timestamp", "<", min0))) === 0, s"$v: < global-min")
      assert(nFiles(ids, Seq(Clause("timestamp", "<=", min0))) === 1, s"$v: <= global-min")
      assert(nFiles(Seq(id0), Seq(Clause("timestamp", ">", max0))) === 0, s"$v: > file0-max")
      assert(nFiles(Seq(id0), Seq(Clause("timestamp", ">=", max0))) === 1, s"$v: >= file0-max")
      assert(nFiles(Seq(id0), Seq(Clause("timestamp", ">", min0))) === 1, s"$v: > file0-min")
      assert(nFiles(Seq(id0), Seq(Clause("timestamp", ">=", min0))) === 1, s"$v: >= file0-min")
      assert(nFiles(ids, Seq(Clause("timestamp", "<", max0))) === 1, s"$v: < file0-max")
      assert(nFiles(ids, Seq(Clause("timestamp", "<=", max0))) === 1, s"$v: <= file0-max")
      assert(nFiles(ids, Seq(Clause("timestamp", ">=", med))) === 10, s"$v: >= med")
      assert(nFiles(ids, Seq(Clause("timestamp", "<=", med))) === 1, s"$v: <= med")
      s.unpersist()
    }
  }

  test("unknown clause column is silently ignored for pruning") {
    val s = stats(NaiveTs)
    val ids = perFileIds(NaiveTs)
    val withUnknown = Metastore.prune(spark, s, ids, Seq(Clause("x", ">=", 9999)))
    val without = Metastore.prune(spark, s, ids)
    assert(withUnknown.toSet === without.toSet,
      "clause on a non-indexed column must not affect pruning (metastore.py:454-455)")
  }

  test("pruning is sound: pruned-out files contain no matching rows") {
    val s = stats(NaiveTs)
    val all = Fixtures.read(spark, dirs(NaiveTs))
    val rng = new scala.util.Random(7)
    val hex = "0123456789abcdef"
    val probeValues = Seq.fill(24)(s"${hex(rng.nextInt(16))}${hex(rng.nextInt(16))}")
    for (value <- probeValues) {
      val kept = Metastore.prune(spark, s, Seq(value)).toSet
      val expected = all.where(col("id") === value)
        .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0)).toSet
      assert(expected.subsetOf(kept), s"files with id=$value must survive pruning (no false negatives)")
    }
  }

  test("footer builder handles narrow integer types (smallint/tinyint)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val d = tmpDir("ms_short") + "/t"
    val schema = StructType(Seq(StructField("k", ShortType), StructField("b", ByteType)))
    val rows = new java.util.ArrayList[Row]()
    (1 to 50).foreach(i => rows.add(Row(i.toShort, (i % 100).toByte)))
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
    // Parquet footers surface INT(16)/INT(8) stats as java.lang.Integer;
    // the builder must narrow them to the declared external types
    val fromFooters = Metastore.buildFromFooters(spark, d, "k", Seq("b"))
      .select("k_min", "k_max", "b_min", "b_max").collect().head
    val fromScan = Metastore.build(spark, d, "k", Seq("b"))
      .select("k_min", "k_max", "b_min", "b_max").collect().head
    assert(fromFooters === fromScan)
    assert(fromFooters.getShort(0) === 1.toShort && fromFooters.getShort(1) === 50.toShort)
  }

  test("repeating the cluster column in optionalColumns does not duplicate stats") {
    val s = Metastore.build(spark, dirs(NaiveTs), "id", Seq("id", "timestamp"))
    assert(s.schema.fieldNames.count(_ == "id_min") === 1)
    // and pruning still works (no AMBIGUOUS_REFERENCE)
    assert(Metastore.prune(spark, s, Seq(firstId(NaiveTs))).nonEmpty)
  }

  test("NULL cluster stats never prune a file (false positives only)") {
    // a file with no footer statistics for the cluster column (INT96
    // timestamp, all-null column) must survive pruning for EVERY value:
    // `min <= v && v <= max` is NULL for it, and a bare join would
    // silently drop all of its rows — a false negative
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("filepath", StringType),
      StructField("id_min", StringType), StructField("id_max", StringType)))
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row("f_known", "aa", "mm"))
    rows.add(Row("f_nostats", null, null))
    val s = spark.createDataFrame(rows, schema)
    val hit = Metastore.prune(spark, s, Seq("zz")) // outside f_known's range
    assert(hit === Seq("f_nostats"), "NULL-stats file must match any value; in-range file must not")
    val both = Metastore.prune(spark, s, Seq("bb")).sorted
    assert(both === Seq("f_known", "f_nostats"))
  }

  test("cluster column is recovered from stats column order") {
    assert(Metastore.clusterColumnOf(stats(NaiveTs)) === "id")
  }

  test("non-orderable stat columns are dropped; cluster column must be orderable") {
    import spark.implicits._
    val df = Seq((1L, Seq(1, 2), "a")).toDF("k", "arr", "s")
    val d = tmpDir("ms_nonord")
    df.write.mode("overwrite").parquet(d)
    // arr silently dropped from optional columns (metastore.py:540-553)
    val s = Metastore.build(spark, d, "k", Seq("arr", "s"))
    assert(s.columns.toSet === Set("filepath", "k_min", "k_max", "s_min", "s_max"))
    // non-orderable cluster column raises
    intercept[IllegalArgumentException] {
      Metastore.build(spark, d, "arr", Nil)
    }
  }

  test("a corrupt file is skipped with a warning, not fatal (both builders)") {
    import spark.implicits._
    val d = tmpDir("ms_corrupt") + "/t"
    (1L to 1000L).toDF("id").repartition(10).write.parquet(d)
    // plant garbage that is not a parquet file
    java.nio.file.Files.write(java.nio.file.Paths.get(d, "zzz_corrupt.parquet"),
      Array.fill[Byte](128)(7))
    val fromScan = Metastore.build(spark, d, "id")
    assert(fromScan.count() === 10, "data-scan builder must skip the corrupt file")
    val fromFooters = Metastore.buildFromFooters(spark, d, "id")
    assert(fromFooters.count() === 10, "footer builder must skip the corrupt file")
    assert(!fromFooters.collect().exists(_.getString(0).contains("zzz_corrupt")))
  }

  test("strict validation accepts matching stats and names the offending column otherwise") {
    val v = NaiveTs
    val s = stats(v)
    val dataSchema = Fixtures.read(spark, dirs(v)).schema
    Metastore.validate(s.schema, dataSchema, "id", Seq("timestamp")) // positive

    // stats table built for a DIFFERENT table: expected columns missing
    import spark.implicits._
    val wrongTable = Seq(("f", 1L, 2L)).toDF("filepath", "foo_min", "foo_max")
    val e1 = intercept[IllegalArgumentException](
      Metastore.validate(wrongTable.schema, dataSchema, "id", Seq("timestamp")))
    assert(e1.getMessage.contains("missing") && e1.getMessage.contains("id_min"))

    // type drift: id_min stored as int while the data column is string
    val drifted = s.withColumn("id_min", lit(1))
    val e2 = intercept[IllegalArgumentException](
      Metastore.validate(drifted.schema, dataSchema, "id", Seq("timestamp")))
    assert(e2.getMessage.contains("id_min") && e2.getMessage.contains("type drift"))

    // extra stat columns (stats built for a superset column spec)
    val extra = s.withColumn("zz_min", lit(1)).withColumn("zz_max", lit(2))
    val e3 = intercept[IllegalArgumentException](
      Metastore.validate(extra.schema, dataSchema, "id", Seq("timestamp")))
    assert(e3.getMessage.contains("zz_min"))
  }

  test("loadValidated round-trips good stats and rejects a wrong-table stats path") {
    val v = NaiveTs
    val statsPath = tmpDir("ms_lv") + "/stats"
    Metastore.update(spark, statsPath, stats(v))
    val dataSchema = Fixtures.read(spark, dirs(v)).schema
    assert(Metastore.loadValidated(spark, statsPath, dataSchema, "id", Seq("timestamp")).count() === 10)
    intercept[IllegalArgumentException](
      Metastore.loadValidated(spark, statsPath, dataSchema, "timestamp", Nil))
  }

  test("replaceUnderPrefix commit is crash-recoverable in every window") {
    import org.apache.hadoop.fs.Path
    val statsPath = tmpDir("ms_atomic") + "/stats"
    Metastore.update(spark, statsPath, stats(NaiveTs))
    val before = Metastore.load(spark, statsPath).collect().map(_.toSeq).toSet
    val fs = new Path(statsPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(statsPath)
    val tmp = new Path(statsPath + ".tmp")
    val bak = new Path(statsPath + ".bak")

    // window A: crashed between live->bak and tmp->live (live missing)
    assert(fs.rename(live, bak))
    assert(Metastore.load(spark, statsPath).collect().map(_.toSeq).toSet === before,
      "recovery must restore the staged-aside table")
    assert(!fs.exists(bak))

    // window B: crashed mid-staging (tmp leftover, live intact)
    fs.mkdirs(tmp)
    assert(Metastore.load(spark, statsPath).collect().map(_.toSeq).toSet === before)
    assert(!fs.exists(tmp))

    // window C: crashed after commit before cleanup (live + bak present)
    fs.mkdirs(bak)
    assert(Metastore.load(spark, statsPath).collect().map(_.toSeq).toSet === before)
    assert(!fs.exists(bak), "committed state must drop the stale backup")

    // normal replace leaves no staging dirs and applies the change
    val replacement = stats(NaiveTs).limit(3)
    Metastore.replaceUnderPrefix(spark, statsPath, dirs(NaiveTs), replacement)
    assert(Metastore.load(spark, statsPath).count() === 3)
    assert(!fs.exists(tmp) && !fs.exists(bak))
  }
}
