package graft.lake

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** RDBMS-backed stats store — the reference's `store_url` parity
  * (lakeshack/metastore.py:81-100: a SQLAlchemy engine URL, "any DB").
  *
  * What the database buys over the parquet store, honestly stated:
  * each statement is ATOMIC (the prefix delete in `replaceUnderPrefix`
  * is one transactional DELETE — no rename protocol, no partial
  * state on crash), and a crash between that delete and the following
  * append loses only the prefix's rows, restored by simply re-running
  * the replace. What it does NOT buy by itself: multi-writer
  * coordination. `update`'s left-anti check and the delete+append pair
  * are check-then-act across separate autocommit statements, so two
  * concurrent updates of the SAME files can insert duplicate filepath
  * rows (benign for correctness — the zone-map snapshot merges a
  * file's rows into their union interval, see `ZoneMap` — but add a
  * DB-side unique index on filepath, or keep
  * maintenance single-writer, if duplicates matter), and a replace
  * racing an update can lose the update's rows. Serialize maintenance
  * per table, exactly as the reference's deployments do.
  *
  * The stats DataFrames are tiny (one row per file), so JDBC round
  * trips are MBs even at 100k files. Works against any JDBC database
  * on the classpath; tested against embedded Derby (ships with Spark).
  * Embedded Derby is single-JVM — use a networked database on a real
  * cluster.
  */
object JdbcMetastore {

  private def props = new java.util.Properties()

  /** Guard against SQL injection through the table identifier — it is
    * interpolated into DDL/DML below. Optionally schema-qualified. */
  private def checkIdent(table: String): Unit =
    require(table.matches("[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?"),
      s"table must be a plain (optionally schema-qualified) SQL identifier, got '$table'")

  /** TIMESTAMP columns come back as TIMESTAMP_NTZ so stats written from
    * a TimestampNTZType lake column round-trip type-identically and
    * `Metastore.validate` sees no drift. */
  private def reader(spark: SparkSession, url: String, table: String) =
    spark.read.option("preferTimestampNTZ", "true").jdbc(url, table, props)

  /** True iff the table exists, via JDBC catalog metadata — a transient
    * connection/permission error PROPAGATES instead of masquerading as
    * "absent" (which would silently degrade replace into append and
    * strand stale rows). Spark's JDBC writer quotes identifiers at
    * CREATE, so the name is checked both as-given and case-folded. */
  def exists(spark: SparkSession, url: String, table: String): Boolean = {
    checkIdent(table)
    val (schemaPart, namePart) = table.split('.') match {
      case Array(s, n) => (Some(s), n)
      case _ => (None, table)
    }
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val md = conn.getMetaData
      // getTables takes LIKE patterns: '_' in a name like lake_stats is
      // a single-char wildcard unless escaped — a false positive here
      // would route the first write into the "existing table" branch
      // and fail the bootstrap
      val esc = md.getSearchStringEscape
      def quote(s: String) = s.replace(esc, esc + esc)
        .replace("_", esc + "_").replace("%", esc + "%")
      // case-fold the SCHEMA part too: Derby folds unquoted identifiers
      // to upper case, so a schema-qualified 'myschema.stats' probed
      // as-given reports absent, silently degrading replace into append
      def variants(s: String) = Seq(s, s.toUpperCase, s.toLowerCase).distinct
      val schemaVariants: Seq[Option[String]] =
        schemaPart.fold(Seq(Option.empty[String]))(s => variants(s).map(Some(_)))
      schemaVariants.exists { schema =>
        variants(namePart).exists { name =>
          val rs = md.getTables(null, schema.map(quote).orNull, quote(name), null)
          try rs.next() finally rs.close()
        }
      }
    } finally conn.close()
  }

  def load(spark: SparkSession, url: String, table: String): DataFrame = {
    checkIdent(table) // the name reaches Spark's dbtable interpolation
    val df = reader(spark, url, table)
    require(df.schema.fieldNames.headOption.contains("filepath") &&
      df.schema.fieldNames.exists(_.endsWith("_min")),
      s"Not a metastore stats table: ${df.schema.simpleString}")
    df
  }

  /** Idempotent upsert, same left-anti semantics as `Metastore.update`
    * (reference O12). See the class doc for the concurrency contract. */
  def update(spark: SparkSession, url: String, table: String, newStats: DataFrame): Unit = {
    checkIdent(table)
    val fresh =
      if (exists(spark, url, table)) {
        val old = load(spark, url, table)
        Metastore.requireSameStatsSchema(old, newStats)
        newStats.join(old.select("filepath"), Seq("filepath"), "left_anti")
      } else newStats
    fresh.write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** Replace all stats rows under a directory prefix with fresh ones
    * (the rewritten-batch upsert — see `Metastore.replaceUnderPrefix`).
    * The stale rows go in ONE transactional DELETE — never a
    * drop-and-recreate of the whole table, so no crash window ever
    * loses other prefixes' rows; a crash between the delete and the
    * append is repaired by re-running the replace. */
  def replaceUnderPrefix(spark: SparkSession, url: String, table: String,
                         dirPrefix: String, newStats: DataFrame): Unit = {
    checkIdent(table)
    if (!exists(spark, url, table)) {
      newStats.write.mode(SaveMode.Append).jdbc(url, table, props)
      return
    }
    Metastore.requireSameStatsSchema(load(spark, url, table), newStats)
    val norm = Metastore.qualifiedPrefix(spark, dirPrefix)
    // MATERIALIZE newStats before mutating the table: a lazy plan that
    // reads this very store (load().where(...) patches are the natural
    // idiom) would otherwise be evaluated after the DELETE and see its
    // own input gone. Stats are tiny (one row per file).
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    newStats.collect().foreach(rows.add)
    val materialized = spark.createDataFrame(rows, newStats.schema)
    // escape LIKE metacharacters with '#' — a backslash ESCAPE literal
    // is itself lexed as an escape by some backends (MySQL), breaking
    // the statement; '#' is inert in every SQL string literal
    val pat = norm.replace("#", "##").replace("%", "#%").replace("_", "#_") + "/%"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      // mirror Spark's JDBC writer exactly: it embeds the TABLE name
      // unquoted (case-folded by the DB) but quotes COLUMN names
      // verbatim — via the backend's dialect (MySQL backticks, ANSI
      // double quotes elsewhere), so the statement resolves against
      // whatever quoting the writer used at CREATE
      val quotedCol =
        org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier("filepath")
      val st = conn.prepareStatement(
        s"DELETE FROM $table WHERE $quotedCol LIKE ? ESCAPE '#'")
      try { st.setString(1, pat); st.executeUpdate() } finally st.close()
    } finally conn.close()
    materialized.write.mode(SaveMode.Append).jdbc(url, table, props)
  }

  /** Replace the stats rows of an explicit FILE SET — the RDBMS twin of
    * `Metastore.replaceFiles`, and the `StatsStore` hook Merge runs on.
    * Unlike `update`/`replaceUnderPrefix` (whose delete and append are
    * separate autocommit statements), the delete AND the insert here run
    * in ONE database transaction via plain JDBC — Merge's crash
    * contract needs replace-atomicity, and a crash between a committed
    * delete and the append would leave stats-routed readers blind to
    * rows whose files still exist. Stats are tiny (one row per file),
    * so hand-inserting the collected rows costs nothing. */
  def replaceFiles(spark: SparkSession, url: String, table: String,
                   removedFiles: Seq[String], newStats: DataFrame): Unit = {
    checkIdent(table)
    if (!exists(spark, url, table)) {
      newStats.write.mode(SaveMode.Append).jdbc(url, table, props)
      return
    }
    Metastore.requireSameStatsSchema(load(spark, url, table), newStats)
    val rows = newStats.collect() // materialize before touching the table
    val nCols = newStats.schema.size
    val quotedCol =
      org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier("filepath")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      conn.setAutoCommit(false)
      // exact match via escaped LIKE, not '=': Spark's JDBC writer maps
      // StringType to CLOB on Derby, and CLOB supports LIKE but not
      // equality comparison. '#'-escaping as in replaceUnderPrefix.
      val del = conn.prepareStatement(s"DELETE FROM $table WHERE $quotedCol LIKE ? ESCAPE '#'")
      try {
        removedFiles.foreach { p =>
          val exact = new org.apache.hadoop.fs.Path(p).toString
            .replace("#", "##").replace("%", "#%").replace("_", "#_")
          del.setString(1, exact)
          del.addBatch()
        }
        del.executeBatch()
      } finally del.close()
      val ins = conn.prepareStatement(
        s"INSERT INTO $table VALUES (${Seq.fill(nCols)("?").mkString(",")})")
      try {
        rows.foreach { r =>
          // setObject handles the stats column types (String, numerics,
          // java.sql.Timestamp, LocalDateTime for NTZ — JDBC 4.2)
          (0 until nCols).foreach(i => ins.setObject(i + 1, r.get(i)))
          ins.addBatch()
        }
        ins.executeBatch()
      } finally ins.close()
      conn.commit()
    } catch {
      case e: Throwable =>
        try conn.rollback() catch { case _: java.sql.SQLException => () }
        throw e
    } finally conn.close()
  }
}
