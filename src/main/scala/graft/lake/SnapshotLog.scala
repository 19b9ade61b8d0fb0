package graft.lake

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** Versioned snapshot log for a lake table — time travel, history,
  * rollback, and safe concurrent append on top of immutable data files.
  *
  * The reference has no notion of table versions: a batch dir is
  * overwritten in place and yesterday's data is gone
  * (lakeshack/lakeshack.py writes/reads one live layout). At 100 TB a
  * curation pipeline needs the opposite: reproduce last week's training
  * mix exactly, audit what a merge changed, and roll back a bad ingest
  * without restoring from backup. This module adds that as a
  * Delta-style (public design: Armbrust et al., "Delta Lake:
  * High-Performance ACID Table Storage over Cloud Object Stores",
  * VLDB 2020) manifest log, re-derived from first principles and kept
  * deliberately small:
  *
  *  - data files are IMMUTABLE and live under `<table>/data/<token>/`,
  *    one token per commit (a crashed writer strands at most an orphan
  *    token dir, reclaimed by [[expireOrphans]]);
  *  - each commit is ONE manifest file `_log/v%012d.mf` listing the
  *    files it adds and removes (relative paths — the table can be
  *    relocated wholesale) plus the full schema of the version;
  *  - a snapshot's live set is the replay of manifests up to its
  *    version, seeded from the newest valid CHECKPOINT `≤` it
  *    (`_log/v%012d.cp`, the full live set, written every
  *    [[checkpointInterval]] commits) — so reconstruction cost is
  *    O(interval), not O(commits since creation);
  *  - commit atomicity is an exclusive create of the manifest: atomic
  *    version claim on HDFS via `fs.create(path, overwrite = false)`;
  *    on `file:` via POSIX O_EXCL (hadoop's local create is
  *    check-then-act — see [[tryClaim]]); on an object store without
  *    conditional put, front the log with a lock service (the same
  *    caveat Delta documents for S3) — the seam is exactly
  *    [[tryClaim]]. A writer that dies mid-write leaves a manifest
  *    without its `end=` trailer; the next claim of that version
  *    detects the torn file and — after [[TornReclaimGraceMs]], so a
  *    LIVE claimant's milliseconds-long write window is never raided —
  *    replaces it ([[nextVersionReclaiming]]); readers refuse a torn
  *    manifest with a clear message rather than serving a partial
  *    commit.
  *
  * Concurrency: appends are optimistic-retry (two appends never
  * conflict logically — the loser re-reads the head and re-claims);
  * overwrite / rollback / expire validate the head is still the one
  * they planned against and throw `ConcurrentModificationException`
  * otherwise (lost-update protection). Readers never lock: a version,
  * once committed, is immutable.
  *
  * Scale: a manifest is O(files touched by the commit); a checkpoint is
  * O(live files) but amortized 1/interval; [[state]] lists one log dir
  * and reads interval-many small files — independent of table bytes.
  * The live-set replay is driver-held, same class as the pruning
  * interval map (reference metastore keeps the same thing in an RDBMS).
  */
object SnapshotLog {

  val Magic = "graft-snapshot-v1"
  val DefaultCheckpointInterval = 10

  /** A resolved snapshot: `version`, live data files (relative to the
    * table root), the schema committed at that version, and the
    * deletion vectors attached to each live file (`dvs`: data file →
    * DV parquet files whose (file, pos) rows are dead in it). A file
    * absent from `dvs` has no dead rows. */
  final case class Snapshot(version: Long, files: Seq[String], schemaJson: String,
                            dvs: Map[String, Seq[String]] = Map.empty)

  /** One history entry (see [[history]]). */
  final case class Entry(version: Long, tsMillis: Long, op: String,
                         nAdds: Int, nRemoves: Int, rollbackOf: Option[Long])

  private[lake] def fsOf(spark: SparkSession, table: String): (FileSystem, Path) = {
    val root = new Path(table)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** The root that owns the DATA POOL for a log root. A branch
    * ([[Branches]]) keeps its own `_log` under
    * `<table>/_branches/<name>/` but shares the TABLE's `data/` pool —
    * one immutable file namespace, many refs selecting subsets of it
    * (the public Iceberg ref model). Every file path a manifest stores
    * is relative to this pool root, so a branch manifest and a main
    * manifest describe the same file with the same string and publish
    * is a pure manifest diff — no file ever moves. */
  private[lake] def dataRootOf(root: Path): Path =
    if (root.getParent != null && root.getParent.getName == Branches.BranchesDir)
      root.getParent.getParent
    else root

  private[lake] def isBranchRoot(root: Path): Boolean = dataRootOf(root) != root

  /** The shared `data/` pool a log root commits into. */
  private[lake] def poolDir(root: Path) = new Path(dataRootOf(root), "data")

  /** The fs-qualified paths (`file:/…`, `hdfs://…`) of the pool-relative
    * data files `files`: the form the footer-stats cache and the scan's
    * file listing key by. */
  private[lake] def qualified(fs: FileSystem, root: Path, files: Seq[String]): Seq[String] =
    files.map(f => fs.makeQualified(new Path(dataRootOf(root), f)).toString)

  private[lake] def logDir(root: Path) = new Path(root, "_log")
  private def manifestPath(root: Path, v: Long) = new Path(logDir(root), f"v$v%012d.mf")
  private def checkpointPath(root: Path, v: Long) = new Path(logDir(root), f"v$v%012d.cp")

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8.name())
  private def dec(s: String) = URLDecoder.decode(s, StandardCharsets.UTF_8.name())

  // ── manifest format ──────────────────────────────────────────────
  // Line-based, URL-encoded payloads, `end=<adds>,<removes>` trailer as
  // the torn-write detector. No JSON library: the format is six line
  // kinds, and a hand-rolled parser has no escaping corner cases once
  // every variable payload is URL-encoded.

  private def render(e: Entry, schemaJson: String, adds: Seq[String],
                     removes: Seq[String],
                     dvSets: Seq[(String, Seq[String])] = Nil,
                     tokens: Option[Seq[String]] = None): String = {
    val sb = new StringBuilder
    sb.append(Magic).append('\n')
    sb.append("version=").append(e.version).append('\n')
    sb.append("ts=").append(e.tsMillis).append('\n')
    sb.append("op=").append(enc(e.op)).append('\n')
    e.rollbackOf.foreach(v => sb.append("rollbackOf=").append(v).append('\n'))
    sb.append("schema=").append(enc(schemaJson)).append('\n')
    adds.foreach(p => sb.append('+').append(enc(p)).append('\n'))
    removes.foreach(p => sb.append('-').append(enc(p)).append('\n'))
    // `~<file>|<dv>|<dv>…` — REPLACEMENT semantics: the listed DV set
    // becomes the file's whole set at this version (an empty list
    // clears it). Replacement, not append, is what makes rollback and
    // checkpoints one-line replays: the commit states the outcome, the
    // reader never folds deltas.
    dvSets.foreach { case (f, dvs) =>
      sb.append('~').append((f +: dvs).map(enc).mkString("|")).append('\n')
    }
    // `!<token>` — CHECKPOINT-ONLY: the cumulative set of commit tokens
    // any manifest ≤ this version ever referenced (including expired
    // ones — the set is seeded from the previous token-carrying
    // checkpoint, so it survives retention). This is what keeps
    // [[appendBatch]]'s exactly-once skip O(checkpointInterval) instead
    // of O(commits), twice per streaming micro-batch.
    tokens.foreach(_.foreach(t => sb.append('!').append(enc(t)).append('\n')))
    sb.append("end=").append(adds.size).append(',').append(removes.size)
    if (dvSets.nonEmpty || tokens.isDefined) sb.append(',').append(dvSets.size)
    tokens.foreach(ts => sb.append(',').append(ts.size))
    sb.append('\n')
    sb.toString
  }

  private final case class Parsed(entry: Entry, schemaJson: String,
                                  adds: Seq[String], removes: Seq[String],
                                  dvSets: Seq[(String, Seq[String])] = Nil,
                                  tokens: Seq[String] = Nil,
                                  tokensKnown: Boolean = false) {
    /** Every DV parquet file this manifest references. */
    def dvFiles: Seq[String] = dvSets.flatMap(_._2)
  }

  /** Parse a manifest/checkpoint body; None = torn or foreign file. */
  private def parse(body: String): Option[Parsed] = {
    val lines = body.split('\n')
    if (lines.isEmpty || lines.head != Magic) return None
    var version = -1L; var ts = -1L; var op = ""; var rollbackOf: Option[Long] = None
    var schema = ""; val adds = Seq.newBuilder[String]; val removes = Seq.newBuilder[String]
    val dvSets = Seq.newBuilder[(String, Seq[String])]
    val tokens = Seq.newBuilder[String]
    var nA = 0; var nR = 0; var nD = 0; var nT = 0
    var ended = false; var tokensKnown = false
    for (ln <- lines.tail if ln.nonEmpty) {
      if (ended) return None // content after the trailer: torn/garbled
      if (ln.startsWith("version=")) version = ln.stripPrefix("version=").toLong
      else if (ln.startsWith("ts=")) ts = ln.stripPrefix("ts=").toLong
      else if (ln.startsWith("op=")) op = dec(ln.stripPrefix("op="))
      else if (ln.startsWith("rollbackOf=")) rollbackOf = Some(ln.stripPrefix("rollbackOf=").toLong)
      else if (ln.startsWith("schema=")) schema = dec(ln.stripPrefix("schema="))
      else if (ln.startsWith("+")) { adds += dec(ln.tail); nA += 1 }
      else if (ln.startsWith("-")) { removes += dec(ln.tail); nR += 1 }
      else if (ln.startsWith("~")) {
        val parts = ln.tail.split('|')
        if (parts.isEmpty || parts(0).isEmpty) return None
        dvSets += dec(parts(0)) -> parts.tail.toSeq.map(dec); nD += 1
      }
      else if (ln.startsWith("!")) { tokens += dec(ln.tail); nT += 1 }
      else if (ln.startsWith("end=")) {
        val parts = ln.stripPrefix("end=").split(',')
        // 2-field trailer = pre-DV manifest (nD must be 0); 3-field
        // counts the `~` lines too; 4-field (checkpoints) adds the
        // token-set count — its PRESENCE distinguishes "empty token
        // set" from "written before token indexing existed"
        val ok = parts.length match {
          case 2 => parts(0).toInt == nA && parts(1).toInt == nR && nD == 0 && nT == 0
          case 3 => parts(0).toInt == nA && parts(1).toInt == nR &&
            parts(2).toInt == nD && nT == 0
          case 4 => parts(0).toInt == nA && parts(1).toInt == nR &&
            parts(2).toInt == nD && parts(3).toInt == nT
          case _ => false
        }
        if (!ok) return None
        tokensKnown = parts.length == 4
        ended = true
      } else return None
    }
    if (!ended || version < 0 || ts < 0 || op.isEmpty || schema.isEmpty) None
    else Some(Parsed(Entry(version, ts, op, nA, nR, rollbackOf), schema,
      adds.result(), removes.result(), dvSets.result(), tokens.result(), tokensKnown))
  }

  private def readFile(fs: FileSystem, p: Path): String = {
    // Transient-read retry: on a CHECKSUMMED local/NFS filesystem the
    // claim's create-no-overwrite reserves the NAME atomically but the
    // content lands through the open stream, so a reader racing the
    // few-microsecond write window can hit a CRC-lag ChecksumException
    // or a short read — resolved by the writer's close, so retry
    // briefly. Persisting failure (real corruption, dead disks)
    // rethrows loudly; a writer that DIED mid-write leaves consistent
    // checksums for the bytes it flushed, reads fine, and is handled
    // as a torn manifest by `parse`'s magic/trailer checks — this
    // retry never masks that path. Object stores (atomic PUT
    // visibility) never take a retry.
    var attempts = 0
    while (true) {
      try {
        val in = fs.open(p)
        try {
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](65536)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          return new String(out.toByteArray, StandardCharsets.UTF_8)
        } finally in.close()
      } catch {
        case e @ (_: org.apache.hadoop.fs.ChecksumException |
                  _: java.io.EOFException) =>
          if (attempts >= 20) throw e
          attempts += 1
          Thread.sleep(25L * attempts)
      }
    }
    "" // unreachable
  }

  /** Atomic version claim — THE commit point of the whole module,
    * dispatched through the [[ClaimStore]] seam: [[PosixExclusiveClaimStore]]
    * (default — O_EXCL name claim + UUID ownership fence on `file:`,
    * plain exclusive create elsewhere) or [[ConditionalPutClaimStore]]
    * (object-store `If-None-Match` semantics: full-body-or-nothing,
    * one winner, no torn manifests), selected by the Hadoop config key
    * `graft.claim.store` so racing DRIVERS resolve the same store with
    * no shared JVM state. Returns false when the version is already
    * claimed. */
  private def tryClaim(fs: FileSystem, p: Path, body: String): Boolean =
    ClaimStore.of(fs).tryClaim(fs, p, body)

  // ── log scanning ─────────────────────────────────────────────────

  private final case class LogListing(manifests: Seq[Long], checkpoints: Seq[Long])

  private def listLog(fs: FileSystem, root: Path): LogListing = {
    val dir = logDir(root)
    if (!fs.exists(dir)) return LogListing(Nil, Nil)
    val st = fs.listStatus(dir)
    def vers(suffix: String) = st.iterator
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(suffix))
      .flatMap(n => scala.util.Try(n.stripPrefix("v").stripSuffix(suffix).toLong).toOption)
      .toSeq.sorted
    LogListing(vers(".mf"), vers(".cp"))
  }

  /** Adjudicate a manifest whose CHECKSUM persistently fails: re-read
    * the raw bytes with CRC verification out of the way. A stale or
    * corrupt `.crc` SIDECAR beside a fully-committed body must read as
    * COMMITTED — classifying it torn would make readers silently serve
    * the previous version and, past the reclaim grace, let the next
    * committer DELETE the committed manifest and reissue its version
    * number (a silent lost commit). The body's own magic/trailer checks
    * in [[parse]] still adjudicate integrity — a writer genuinely dead
    * mid-body parses as torn here too. When the raw body parses, the
    * bad sidecar is REPAIRED (deleted) so future checksummed reads
    * succeed; repair failure is harmless (this path re-adjudicates). */
  private def adjudicateChecksumFailure(fs: FileSystem, p: Path): Option[Parsed] =
    try {
      val body =
        if (fs.getScheme == "file")
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(p.toUri.getPath)), StandardCharsets.UTF_8)
        else {
          // a FRESH handle: setVerifyChecksum on the cached instance
          // would race every concurrent reader in the JVM
          val raw = FileSystem.newInstance(p.toUri, fs.getConf)
          try { raw.setVerifyChecksum(false); readFile(raw, p) }
          finally raw.close()
        }
      val parsed = parse(body)
      if (parsed.isDefined) {
        fs match {
          case cfs: org.apache.hadoop.fs.ChecksumFileSystem =>
            try { cfs.getRawFileSystem.delete(cfs.getChecksumFile(p), false); () }
            catch { case _: java.io.IOException => () }
          case _ => ()
        }
      }
      parsed
    } catch { case _: java.io.IOException => None }

  /** Current committed version, or -1 for a table with no log. A torn
    * head manifest (crashed writer) is not a committed version; one
    * whose checksum persistently fails is adjudicated on its RAW bytes
    * ([[adjudicateChecksumFailure]]) — committed when the body parses
    * (a stale .crc must not hide a commit), torn otherwise — so commits
    * can reclaim a genuinely broken head ([[nextVersionReclaiming]])
    * without ever reclaiming a committed one. */
  def currentVersion(spark: SparkSession, table: String): Long = {
    val (fs, root) = fsOf(spark, table)
    val ms = listLog(fs, root).manifests
    ms.reverse.find { v =>
      (try parse(readFile(fs, manifestPath(root, v)))
       catch {
         case _: org.apache.hadoop.fs.ChecksumException =>
           adjudicateChecksumFailure(fs, manifestPath(root, v))
         case _: java.io.EOFException => None
       }).isDefined
    }.getOrElse(-1L)
  }

  /** Next claimable version; deletes a TORN head manifest in passing
    * (a writer died mid-write — its version was never committed, and
    * the claim below would otherwise be blocked forever). Interior torn
    * manifests are impossible by construction (a writer only ever
    * claims head+1) and [[replay]] hard-fails on them. */
  /** Grace before a TORN head manifest is reclaimed: a claimant holds
    * the manifest stream open for milliseconds between winning the
    * name and the content landing, and during that window the file
    * parses as torn — reclaiming it immediately would DELETE a live
    * writer's just-won commit and reissue its version (a silently lost
    * commit; hadoop `create` makes the file visible EMPTY on both
    * file:// and HDFS, so the window is real). Younger-than-grace torn
    * heads throw `ConcurrentModificationException` instead — the
    * retrying-append loops back off past the grace, so a writer that
    * genuinely DIED mid-manifest is still reclaimed within one call. */
  private[lake] val TornReclaimGraceMs = 5000L

  private def nextVersionReclaiming(fs: FileSystem, root: Path): Long = {
    val ms = listLog(fs, root).manifests
    ms.lastOption match {
      case None => 0L
      case Some(last) =>
        val p = manifestPath(root, last)
        // a head manifest whose CHECKSUM still fails after readFile's
        // ~5 s of retries: adjudicate on the RAW bytes first — a stale
        // .crc beside a COMPLETE body is a committed version and must
        // never be reclaimed (a silent lost commit); only a body that
        // itself fails parse (writer died mid-manifest) is TORN,
        // subject to the same reclaim grace below, instead of
        // rethrowing — which would block every future commit until
        // manual cleanup
        val headParsed =
          try parse(readFile(fs, p))
          catch {
            case _: org.apache.hadoop.fs.ChecksumException =>
              adjudicateChecksumFailure(fs, p)
            case _: java.io.EOFException => None
          }
        if (headParsed.isEmpty) {
          val age =
            try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
            catch {
              // a concurrent reclaimer deleted it first — the head is
              // moving; let the caller re-plan
              case _: java.io.FileNotFoundException =>
                throw new java.util.ConcurrentModificationException(
                  s"v$last of $root reclaimed by a concurrent committer")
            }
          if (age < TornReclaimGraceMs)
            throw new java.util.ConcurrentModificationException(
              s"v$last of $root is mid-write (torn, ${age}ms old) — " +
                "a concurrent claimant owns it")
          fs.delete(p, false)
          last
        } else last + 1
    }
  }

  /** Resolve the snapshot at `asOf` (default: head). Seeds from the
    * newest VALID checkpoint ≤ target, replays the manifests after it.
    * A torn checkpoint (crashed checkpointer) is skipped — checkpoints
    * are an optimization, never required for correctness. */
  def state(spark: SparkSession, table: String, asOf: Option[Long] = None): Snapshot = {
    val (fs, root) = fsOf(spark, table)
    val listing = listLog(fs, root)
    require(listing.manifests.nonEmpty, s"no snapshot log at $table")
    val head = currentVersion(spark, table)
    require(head >= 0, s"snapshot log at $table has no committed version")
    val target = asOf.getOrElse(head)
    require(target >= 0 && target <= head,
      s"version $target out of range [0, $head] for $table")
    require(listing.manifests.contains(target),
      s"version $target expired from $table (oldest retained: ${listing.manifests.head})")

    val cpSeed: Option[(Long, Parsed)] = listing.checkpoints
      .filter(_ <= target).sorted.reverse.iterator
      .flatMap(v => parse(readFile(fs, checkpointPath(root, v))).map(v -> _))
      .take(1).toSeq.headOption

    val live = scala.collection.mutable.LinkedHashSet[String]()
    val dvs = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    var schema = ""
    var from = 0L
    def applyDvSets(sets: Seq[(String, Seq[String])]): Unit = sets.foreach {
      case (f, Nil) => dvs.remove(f)
      case (f, set) => if (live.contains(f)) dvs(f) = set
    }
    cpSeed.foreach { case (v, p) =>
      live ++= p.adds; applyDvSets(p.dvSets); schema = p.schemaJson; from = v + 1
    }
    for (v <- listing.manifests if v >= from && v <= target) {
      val p = parse(readFile(fs, manifestPath(root, v))).getOrElse(
        throw new IllegalStateException(
          s"torn manifest v$v inside the log at $table — log is corrupt"))
      live ++= p.adds
      live --= p.removes
      p.removes.foreach(dvs.remove) // a removed file's dead-row set dies with it
      applyDvSets(p.dvSets)
      schema = p.schemaJson
    }
    Snapshot(target, live.toSeq, schema, dvs.toMap)
  }

  // ── commits ──────────────────────────────────────────────────────

  /** Low-level commit: claim `expected + 1` with the given file deltas.
    * `expected` is the head version the caller planned against
    * (-1 = creating the table); a different head at claim time throws
    * `ConcurrentModificationException`. Returns the committed version. */
  def commit(spark: SparkSession, table: String, op: String,
             adds: Seq[String], removes: Seq[String], schemaJson: String,
             expected: Long, rollbackOf: Option[Long] = None,
             dvSets: Seq[(String, Seq[String])] = Nil,
             checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    val (fs, root) = fsOf(spark, table)
    fs.mkdirs(logDir(root))
    val next = nextVersionReclaiming(fs, root)
    if (next != expected + 1)
      throw new java.util.ConcurrentModificationException(
        s"$table moved to v${next - 1} (planned against v$expected)")
    val e = Entry(next, System.currentTimeMillis(), op, adds.size, removes.size, rollbackOf)
    if (!tryClaim(fs, manifestPath(root, next), render(e, schemaJson, adds, removes, dvSets)))
      throw new java.util.ConcurrentModificationException(
        s"lost the claim race for v$next of $table")
    maybeCheckpoint(spark, fs, root, table, next, checkpointInterval)
    appendSidecars(spark, fs, root, adds)
    next
  }

  /** SIDECAR MAINTENANCE: after any commit that adds data files, append
    * rows for exactly those files to every Bloom and SUM column sidecar
    * the table carries ([[Sidecar]]), so `CALL build_bloom` and `CALL
    * collect_agg_stats` are one-time layout decisions, not a re-CALL
    * treadmill. Without it every appended or compacted file is absent
    * from the sidecars: never served wrongly (it scans) but pruning and
    * the SUM shortcut silently decay under continuous ingest. The
    * added files are read as ONE batch frame: one delta build per
    * Bloom column with the base build's geometry (m, k), and one fused
    * column-pruned pass for all SUM columns ([[appendAggStats]]). A
    * table without sidecars pays two existence probes and no Spark
    * job. Rows for files a compaction REMOVED stay behind as harmless
    * orphans (pruning intersects the LIVE candidate list; a full
    * `buildBloom` clears them).
    *
    * Best-effort by design: the manifest claim has already landed, so
    * a failure here costs only freshness — visible in the
    * probed-but-unindexed telemetry
    * ([[BloomIndex.unindexedProbes]]) — never the commit. */
  private def appendSidecars(spark: SparkSession, fs: FileSystem,
                             root: Path, adds: Seq[String]): Unit = {
    if (adds.isEmpty) return
    try {
      val bloomCols = Sidecar.columns(fs, root, Sidecar.Bloom)
      val sumCols = Sidecar.columns(fs, root, Sidecar.AggStats)
      if (bloomCols.isEmpty && sumCols.isEmpty) return
      val abs = qualified(fs, root, adds)
      val batch = spark.read.option("ignoreMissingFiles", "true").parquet(abs: _*)
      for (c <- bloomCols) {
        val cd = Sidecar.dir(root, Sidecar.Bloom, c)
        bloomGeometryOf(spark, fs, cd).foreach { case (column, m, k) =>
          if (batch.columns.contains(column))
            Sidecar.append(spark, fs, cd, BloomIndex.buildFromWith(batch, column, m, k))
        }
      }
      appendAggStats(spark, fs, root, batch, abs, sumCols.filter(n =>
        batch.columns.contains(n) && aggStatsIntegral.contains(batch.schema(n).dataType)))
    } catch { case e: Exception =>
      MetastoreFileIndex.log.warn(
        s"sidecar maintenance failed for $root (reads stay sound, the files " +
          s"this commit added scan until the next build): ${e.getMessage}")
    }
  }

  /** Decimal accumulator type for sidecar collects: wide enough that a
    * per-file sum of longs can never overflow it in practice (10^38 ≥
    * 2^63 · any feasible row count), so the collected sum is EXACT
    * regardless of the collecting session's eval mode — a LEGACY
    * session can no longer store a silently WRAPPED per-file sum that
    * an ANSI query would then serve where the stock plan raises
    * ARITHMETIC_OVERFLOW. */
  private val aggStatsSumType = org.apache.spark.sql.types.DecimalType(38, 0)

  /** Append one SUM sidecar delta per column of `columns` (integral
    * columns of `batch`) covering the files `abs` that `batch` reads:
    * ONE fused column-pruned pass computes per-file (exact decimal sum,
    * non-null count) for all of them (a K-column table pays one job,
    * not K). Zero-row files produce no group, so the full file list is
    * left-joined in and every file lands a row (sum NULL, cnt 0 = "no
    * non-null values", exactly Spark's sum-over-empty). The per-file
    * frame is persisted — it is metadata-sized, and the K writes must
    * not re-run the pass. Each delta projects to `(filepath, sum_v:
    * long, cnt)`; a file whose exact sum falls OUTSIDE long range gets
    * NO row (it scans, where the stock plan's own overflow semantics
    * apply), and the in-range guard runs before the long cast, so the
    * cast itself never overflows under either eval mode. */
  private def appendAggStats(spark: SparkSession, fs: FileSystem, root: Path,
                             batch: DataFrame, abs: Seq[String],
                             columns: Seq[String]): Unit = {
    if (columns.isEmpty) return
    import org.apache.spark.sql.functions.{col => c, coalesce, count, lit, sum}
    val aggs = columns.zipWithIndex.flatMap { case (n, i) => Seq(
      sum(c(n).cast(aggStatsSumType)).as(s"_s$i"), count(c(n)).as(s"_c$i")) }
    val computed = batch
      .select(c("_metadata.file_path").as("filepath") +: columns.map(c(_)): _*)
      .groupBy("filepath")
      .agg(aggs.head, aggs.tail: _*)
    val all = spark.createDataFrame(
      spark.sparkContext.parallelize(abs.map(Row(_)), math.max(1, abs.size / 20000)),
      StructType(Seq(StructField("filepath", StringType, nullable = false))))
      .join(computed, Seq("filepath"), "left")
      .persist()
    try {
      columns.zipWithIndex.foreach { case (n, i) =>
        val cnt = coalesce(c(s"_c$i"), lit(0L))
        val sumDec = c(s"_s$i")
        Sidecar.append(spark, fs, Sidecar.dir(root, Sidecar.AggStats, n),
          all.where(cnt === 0L || (sumDec.isNotNull &&
              sumDec >= lit(Long.MinValue) && sumDec <= lit(Long.MaxValue)))
            .select(c("filepath"), sumDec.cast(LongType).as("sum_v"), cnt.as("cnt")))
      }
    } finally all.unpersist()
  }

  /** Sidecar geometry, persisted as the tiny `_geometry` metadata file
    * (`column,m,k`) beside the filter parquet — ONE small read per
    * commit instead of the Spark job head(1) costs. Read fresh each
    * time (never JVM-cached): a full rebuild may re-size m to the new
    * data volume, and a stale cached geometry would append deltas
    * whose bit positions don't match the base. */
  private def bloomGeometryOf(spark: SparkSession, fs: FileSystem,
                              colDir: Path): Option[(String, Int, Int)] = {
    val gp = new Path(colDir, "_geometry")
    val viaFile =
      try {
        if (!fs.exists(gp)) None
        else readFile(fs, gp).trim.split(',') match {
          case Array(c, m, k) => Some((c, m.toInt, k.toInt))
          case _ => None
        }
      } catch { case _: Exception => None }
    viaFile.orElse {
      val headRows = spark.read.option("recursiveFileLookup", "true")
        .option("ignoreMissingFiles", "true").parquet(colDir.toString)
        .select("colname", "m", "k").head(1)
      if (headRows.isEmpty) None
      else {
        val g = (headRows.head.getString(0), headRows.head.getInt(1),
          headRows.head.getInt(2))
        writeBloomGeometry(fs, colDir, g._1, g._2, g._3, overwrite = false)
        Some(g)
      }
    }
  }

  private def writeBloomGeometry(fs: FileSystem, colDir: Path, column: String,
                                 m: Int, k: Int, overwrite: Boolean): Unit =
    try {
      val out = fs.create(new Path(colDir, "_geometry"), overwrite)
      try out.write(s"$column,$m,$k".getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: java.io.IOException => () } // best-effort cache

  /** Write a checkpoint when the version lands on the interval. Crash
    * here is harmless (readers validate + skip); a later commit on the
    * same version number cannot exist, so no claim conflict. The
    * checkpoint carries the CUMULATIVE referenced-token set (seeded
    * from the previous token-carrying checkpoint, so O(interval) to
    * compute) — [[appendBatch]]'s exactly-once skip reads it instead of
    * re-parsing every retained manifest. */
  private def maybeCheckpoint(spark: SparkSession, fs: FileSystem, root: Path,
                              table: String, v: Long, interval: Int): Unit =
    if (interval > 0 && v > 0 && v % interval == 0) {
      val snap = state(spark, table, Some(v))
      val tokens = tokenSetAt(fs, root, Some(v)).toSeq.sorted
      val e = Entry(v, System.currentTimeMillis(), "checkpoint", snap.files.size, 0, None)
      tryClaim(fs, checkpointPath(root, v),
        render(e, snap.schemaJson, snap.files, Nil, snap.dvs.toSeq,
          tokens = Some(tokens)))
    }

  /** The commit token a pool-relative path belongs to. */
  private def tokenOf(path: String): Option[String] = path.split('/') match {
    case Array("data", tok, _*) => Some(tok)
    case _ => None
  }

  /** Diagnostic: manifests parsed by [[tokenSetAt]] since JVM start —
    * the spec pins appendBatch's per-batch log reads to
    * O(checkpointInterval) on a long log. */
  private[lake] val tokenScanManifestReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Every commit token any manifest with version ≤ `upTo` (default:
    * all) references — INCLUDING manifests already dropped by
    * [[expire]], via the cumulative checkpoint token set. Seeds from
    * the newest token-carrying checkpoint ≤ `upTo` and parses only the
    * manifests after it: O(checkpointInterval) steady-state. Falls back
    * to the full retained-manifest scan when no checkpoint carries
    * tokens yet (a log written before token indexing). */
  private def tokenSetAt(fs: FileSystem, root: Path,
                         upTo: Option[Long] = None): Set[String] = {
    val listing = listLog(fs, root)
    val bound = upTo.getOrElse(Long.MaxValue)
    val seed = listing.checkpoints.filter(_ <= bound).sorted.reverse.iterator
      .flatMap(cv => parse(readFile(fs, checkpointPath(root, cv)))
        .filter(_.tokensKnown).map(cv -> _))
      .take(1).toSeq.headOption
    val (from, base) = seed match {
      case Some((cv, p)) => (cv + 1, p.tokens.toSet)
      case None => (Long.MinValue, Set.empty[String])
    }
    base ++ listing.manifests.filter(v => v >= from && v <= bound).flatMap { v =>
      tokenScanManifestReads.incrementAndGet()
      parse(readFile(fs, manifestPath(root, v))).toSeq
        .flatMap(p => p.adds ++ p.removes ++ p.dvFiles)
    }.flatMap(tokenOf)
  }

  /** Append retry loop: re-read the head and re-claim — two appends
    * never logically conflict, so losing a claim race is not an error.
    * `schemaFor` re-resolves the committed schema against the head seen
    * by EACH attempt, so a concurrent schema evolution is never
    * clobbered by a stale pre-race resolution. */
  private def retryingAppend(spark: SparkSession, table: String, op: String,
                             adds: Seq[String], schemaFor: Long => String,
                             checkpointInterval: Int): Long = {
    var attempts = 0
    while (true) {
      val head = currentVersion(spark, table)
      try return commit(spark, table, op, adds, Nil, schemaFor(head), head,
        checkpointInterval = checkpointInterval)
      catch {
        case _: java.util.ConcurrentModificationException if attempts < 30 =>
          // backoff past TornReclaimGraceMs in the worst case, so a
          // dead writer's torn head self-heals within one call; the
          // common claim-race retry stays tens of ms
          attempts += 1; Thread.sleep(25L * math.min(attempts, 10))
      }
    }
    -1L // unreachable
  }

  /** List the `.parquet` files Spark materialized under a commit token
    * dir, as table-relative paths. */
  private def partFiles(fs: FileSystem, root: Path, tokenDir: Path): Seq[String] = {
    val prefix = dataRootOf(root).toUri.getPath match {
      case p if p.endsWith("/") => p; case p => p + "/" }
    val it = fs.listFiles(tokenDir, true)
    val buf = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val abs = f.getPath.toUri.getPath
        require(abs.startsWith(prefix), s"$abs escaped table root $prefix")
        buf += abs.stripPrefix(prefix)
      }
    }
    buf.result()
  }

  /** The schema an APPEND commits, validated against the table's head
    * schema by (name, type) — nullability and metadata are ignored
    * (parquet round-trips relax nullability; that is not evolution).
    *
    * Strict mode (`mergeSchema = false`): the batch must carry exactly
    * the head's columns (any order) with matching types; the HEAD
    * schema is re-committed so column order never drifts. A mismatch
    * throws instead of silently flipping the table's schema.
    *
    * Evolution mode (`mergeSchema = true`): common columns must match
    * types; batch-only columns are APPENDED to the head schema as
    * nullable (old files read them as null — the parquet reader
    * null-fills missing columns); head-only columns the batch lacks are
    * kept (the new files read them as null). Type changes are never
    * merged. */
  private def resolveAppendSchema(head: StructType, batch: StructType,
                                  mergeSchema: Boolean): StructType = {
    val headByName = head.fields.map(f => f.name -> f).toMap
    for (bf <- batch.fields; hf <- headByName.get(bf.name))
      require(hf.dataType == bf.dataType,
        s"column '${bf.name}': batch type ${bf.dataType.simpleString} != " +
          s"table type ${hf.dataType.simpleString} — type changes cannot be appended")
    if (!mergeSchema) {
      val missing = head.fieldNames.toSet -- batch.fieldNames.toSet
      val extra = batch.fieldNames.toSet -- head.fieldNames.toSet
      require(missing.isEmpty && extra.isEmpty,
        s"append schema mismatch (missing=$missing, extra=$extra) — pass " +
          "mergeSchema = true to evolve the table")
      head
    } else {
      val newCols = batch.fields.filterNot(f => headByName.contains(f.name))
        .map(_.copy(nullable = true))
      StructType(head.fields ++ newCols)
    }
  }

  /** Materialize `df` as a new commit. `mode` is `"append"` or
    * `"overwrite"`; pass `clusterColumn` to range-cluster the files so
    * zone-map pruning works on the snapshot (same recipe as
    * [[ClusteredWriter]]). Returns the committed version.
    *
    * Appends validate against the head schema ([[resolveAppendSchema]]);
    * `mergeSchema = true` evolves it by appending new nullable columns.
    * `opLabel` overrides the manifest op string (consumers like
    * [[IncrementalView]] persist their cursor there); file semantics
    * stay those of `mode`.
    *
    * The data write happens BEFORE any claim, into a fresh token dir —
    * heavy I/O runs unlocked, the commit itself is one small file. An
    * overwrite that loses its claim race throws and strands its token
    * dir as an orphan ([[expireOrphans]] reclaims it); it never
    * half-applies. */
  def write(df: DataFrame, table: String, mode: String = "append",
            clusterColumn: Option[String] = None, nFiles: Int = 8,
            checkpointInterval: Int = DefaultCheckpointInterval,
            mergeSchema: Boolean = false, opLabel: Option[String] = None): Long = {
    require(mode == "append" || mode == "overwrite", s"unknown mode '$mode'")
    val spark = df.sparkSession
    val (fs, root) = fsOf(spark, table)
    val planned = if (mode == "overwrite" && fs.exists(logDir(root)) &&
      listLog(fs, root).manifests.nonEmpty) {
      val head = currentVersion(spark, table)
      if (head >= 0) Some(head -> state(spark, table, Some(head)).files) else None
    } else None

    val token = java.util.UUID.randomUUID().toString.take(12)
    val tokenDir = new Path(poolDir(root), token)
    val shaped = clusterColumn match {
      case Some(c) => df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col(c))
        .sortWithinPartitions(c)
      case None => df
    }
    shaped.write.mode("errorifexists").parquet(tokenDir.toString)
    val adds = partFiles(fs, root, tokenDir)

    mode match {
      case "append" =>
        def schemaFor(head: Long): String =
          if (head >= 0) {
            val headSchema = DataType.fromJson(state(spark, table, Some(head))
              .schemaJson).asInstanceOf[StructType]
            resolveAppendSchema(headSchema, df.schema, mergeSchema).json
          } else df.schema.json
        retryingAppend(spark, table, opLabel.getOrElse("append"), adds, schemaFor,
          checkpointInterval)
      case "overwrite" =>
        val (expected, removes) = planned match {
          case Some((head, files)) => (head, files)
          case None => (currentVersion(spark, table), Nil)
        }
        commit(spark, table, opLabel.getOrElse("overwrite"), adds, removes,
          df.schema.json, expected, checkpointInterval = checkpointInterval)
    }
  }

  /** Commit the parquet files a DSv2 writer already materialized under
    * a pool token dir — the manifest half of the SQL write path
    * ([[SnapshotCatalog]] `INSERT INTO` / `INSERT OVERWRITE`): executors
    * wrote the data through Spark's stock parquet `BatchWrite`, and this
    * runs at `BatchWrite.commit` time on the driver, so the version
    * claim IS the query's commit point — an aborted INSERT strands at
    * most an orphan token dir ([[expireOrphans]] reclaims it), never a
    * half-visible table. Appends validate strictly against the head
    * schema (evolve via [[write]](mergeSchema = true) first). */
  private[lake] def commitWrittenToken(spark: SparkSession, table: String,
      tokenDir: Path, overwrite: Boolean, batchSchema: StructType,
      checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    val (fs, root) = fsOf(spark, table)
    val adds = partFiles(fs, root, tokenDir)
    if (overwrite) {
      val head = currentVersion(spark, table)
      val removes = if (head >= 0) state(spark, table, Some(head)).files else Nil
      commit(spark, table, "overwrite", adds, removes, batchSchema.json, head,
        checkpointInterval = checkpointInterval)
    } else {
      def schemaFor(head: Long): String =
        if (head >= 0) {
          val hs = DataType.fromJson(state(spark, table, Some(head)).schemaJson)
            .asInstanceOf[StructType]
          resolveAppendSchema(hs, batchSchema, mergeSchema = false).json
        } else batchSchema.json
      retryingAppend(spark, table, "append", adds, schemaFor, checkpointInterval)
    }
  }

  /** TRUNCATE: one metadata-only commit restating an empty live set —
    * O(1) regardless of table size, history stays time-travelable
    * below it (the rows come back with `rollback`). Lost-update safe
    * like every overwrite. */
  def truncate(spark: SparkSession, table: String,
               checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    val head = currentVersion(spark, table)
    require(head >= 0, s"no snapshot table at $table")
    val cur = state(spark, table, Some(head))
    commit(spark, table, "overwrite", Nil, cur.files, cur.schemaJson, head,
      checkpointInterval = checkpointInterval)
  }

  /** Exactly-once commit of a STREAMING epoch whose parquet files
    * Spark's stock writers already materialized under `stagedDir` (a
    * random pool staging dir — the epoch number is unknown at factory
    * creation, so staging is anonymous and the DETERMINISTIC name
    * arrives here): the staged dir is renamed to the epoch token and
    * claimed as one append. Replay safety, the [[appendBatch]]
    * contract: a token any manifest already references commits nothing
    * (the restarted query's re-run of a committed epoch deletes its
    * staging and walks away); a torn rename target from a crashed
    * attempt is unreferenced by definition and is replaced. */
  private[graft] def commitStreamEpoch(spark: SparkSession, table: String,
      stagedDir: Path, streamToken: String, batchSchema: StructType,
      checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    require(streamToken.nonEmpty && !streamToken.contains('/'),
      s"bad stream token '$streamToken'")
    val (fs, root) = fsOf(spark, table)
    if (tokensReferenced(fs, root).contains(streamToken)) {
      fs.delete(stagedDir, true)
      return -1L
    }
    val target = new Path(poolDir(root), streamToken)
    if (fs.exists(target)) fs.delete(target, true) // torn prior attempt
    require(fs.rename(stagedDir, target),
      s"rename $stagedDir -> $target failed (concurrent duplicate epoch writer?)")
    val adds = partFiles(fs, root, target)
    var attempts = 0
    while (true) {
      if (tokensReferenced(fs, root).contains(streamToken)) return -1L
      val head = currentVersion(spark, table)
      val schemaJson =
        if (head >= 0) {
          val hs = DataType.fromJson(state(spark, table, Some(head)).schemaJson)
            .asInstanceOf[StructType]
          resolveAppendSchema(hs, batchSchema, mergeSchema = false).json
        } else batchSchema.json
      // zombie fence: a dead driver's replay of the SAME epoch runs the
      // torn-prior-attempt cleanup above (delete + rename of the token
      // dir) unsynchronized with this live writer — if it replaced the
      // dir after `partFiles` listed our adds, committing them would
      // reference deleted files. Re-verify existence immediately before
      // the claim and fail the epoch loudly instead (the replayer's own
      // commit of the re-staged dir carries the rows).
      val missing = adds.filterNot(a => fs.exists(new Path(dataRootOf(root), a)))
      if (missing.nonEmpty) throw new IllegalStateException(
        s"epoch token dir $target was replaced mid-commit " +
          s"(${missing.size} staged file(s) vanished, e.g. ${missing.head}) — " +
          "a concurrent replay of this epoch raced this writer; failing the " +
          "epoch rather than committing dangling references")
      try return commit(spark, table, "append", adds, Nil, schemaJson, head,
        checkpointInterval = checkpointInterval)
      catch {
        case _: java.util.ConcurrentModificationException if attempts < 30 =>
          // backoff past TornReclaimGraceMs in the worst case, so a
          // dead writer's torn head self-heals within one call; the
          // common claim-race retry stays tens of ms
          attempts += 1; Thread.sleep(25L * math.min(attempts, 10))
      }
    }
    -1L // unreachable
  }

  /** Metadata-only SCHEMA EVOLUTION commit: append new nullable columns
    * to the head schema without touching one data file — the `ALTER
    * TABLE ADD COLUMNS` half of [[write]]`(mergeSchema = true)` (which
    * evolves-and-appends in one commit; this evolves alone, so a SQL
    * user can ALTER then INSERT). Every existing file reads the new
    * columns as null (the parquet reader null-fills missing columns —
    * the same contract `lake_schema_evo` pins), live files and deletion
    * vectors carry over untouched, and time travel below the commit
    * still reads the OLD schema. Duplicate or nested names are refused;
    * columns are forced nullable (rows already committed have no value
    * to give a NOT NULL column). The reference re-validates schemas
    * column-by-column on reconnect (lakeshack/metastore.py:128-204);
    * here evolution is an explicit, versioned commit instead. */
  def addColumns(spark: SparkSession, table: String,
                 cols: Seq[StructField],
                 checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    require(cols.nonEmpty, "ALTER TABLE ADD COLUMNS with no columns")
    val head = currentVersion(spark, table)
    require(head >= 0, s"no snapshot table at $table")
    val cur = state(spark, table, Some(head))
    val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    cols.foreach(f => require(!schema.fieldNames.contains(f.name),
      s"column '${f.name}' already exists in $table"))
    require(cols.map(_.name).distinct.size == cols.size,
      s"duplicate column names in ADD COLUMNS: ${cols.map(_.name).mkString(", ")}")
    val evolved = StructType(schema.fields ++ cols.map(_.copy(nullable = true)))
    commit(spark, table, "evolve_schema", adds = Nil, removes = Nil,
      schemaJson = evolved.json, expected = head,
      checkpointInterval = checkpointInterval)
  }

  /** Manifest delta of ONE committed version: (op, added files,
    * n_removes, n_dvSets) — the streaming source's per-version planning
    * handle (O(1): one small manifest read, no data touched). Throws a
    * clear error when the version expired below the retention horizon
    * (a lagging stream must restart from current state, never silently
    * skip). */
  private[lake] def versionDelta(spark: SparkSession, table: String,
                                 v: Long): (String, Seq[String], Int, Int) = {
    val (fs, root) = fsOf(spark, table)
    val mp = manifestPath(root, v)
    if (!fs.exists(mp)) throw new IllegalStateException(
      s"version $v of $table expired below the retention horizon — " +
        "restart the stream from the table's current state")
    val p = parse(readFile(fs, mp)).getOrElse(
      throw new IllegalStateException(s"torn manifest v$v at $table"))
    (p.entry.op, p.adds, p.removes.size, p.dvSets.size)
  }

  /** Create an EMPTY table at v0 with the given schema — the catalog's
    * `CREATE TABLE` half (CTAS then appends into it). Fails if the
    * table already has a log. */
  private[lake] def createEmpty(spark: SparkSession, table: String,
                                schemaJson: String): Long = {
    require(currentVersion(spark, table) < 0, s"table already exists at $table")
    commit(spark, table, "create", Nil, Nil, schemaJson, expected = -1L)
  }

  // ── declared layout: CLUSTER BY ──────────────────────────────────
  // The table's declared cluster columns, stored as a side file
  // `_log/_cluster` (a layout PREFERENCE like Iceberg's sort order,
  // not data semantics — so it lives beside the log, not inside the
  // versioned manifests). The SQL write path reads it to request a
  // range distribution + sort from Spark (`RequiresDistributionAndOrdering`),
  // so plain `INSERT INTO` keeps producing zone-map-disjoint files —
  // without it, every SQL insert of shuffled rows writes overlapping
  // ranges and pruning decays until the next OPTIMIZE.
  private val ClusterMagic = "graft-cluster-v1"

  def setClusterBy(spark: SparkSession, table: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.forall(_.nonEmpty), "cluster columns must be non-empty")
    val (fs, rootP) = fsOf(spark, table)
    val p = new Path(logDir(rootP), "_cluster")
    fs.mkdirs(p.getParent)
    val out = fs.create(p, true)
    try out.write(s"$ClusterMagic\n${cols.mkString(",")}\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The declared cluster columns, or Nil. Torn/missing files read as
    * Nil (unclustered) — never an error on the write path. */
  def clusterByOf(spark: SparkSession, table: String): Seq[String] = {
    val (fs, rootP) = fsOf(spark, table)
    val p = new Path(logDir(rootP), "_cluster")
    if (!fs.exists(p)) return Nil
    val lines = readFile(fs, p).split('\n')
    if (lines.length >= 2 && lines(0) == ClusterMagic)
      lines(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    else Nil
  }

  /** Exactly-once APPEND for streaming/retried writers: the caller
    * names the batch (e.g. `s"batch-$batchId"` from foreachBatch), the
    * name becomes the token dir, and a batch whose token any manifest
    * already references is SKIPPED — a crashed micro-batch re-runs to
    * the same token, so replay commits nothing twice. Returns the
    * committed version, or -1 when the batch was already applied.
    *
    * A crash AFTER the data write but BEFORE the commit leaves a
    * complete token dir that the retry re-writes (overwrite of an
    * uncommitted dir — safe, nothing references it) and then commits.
    * A token must never be reused for different data: the skip is
    * keyed on the name alone. */
  def appendBatch(df: DataFrame, table: String, batchToken: String,
                  clusterColumn: Option[String] = None, nFiles: Int = 8,
                  checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    require(batchToken.nonEmpty && !batchToken.contains('/'),
      s"bad batch token '$batchToken'")
    val spark = df.sparkSession
    val (fs, root) = fsOf(spark, table)
    if (tokensReferenced(fs, root).contains(batchToken)) return -1L
    val tokenDir = new Path(poolDir(root), batchToken)
    val shaped = clusterColumn match {
      case Some(c) => df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col(c))
        .sortWithinPartitions(c)
      case None => df
    }
    shaped.write.mode("overwrite").parquet(tokenDir.toString)
    val adds = partFiles(fs, root, tokenDir)
    // the claim race can interleave a concurrent writer committing the
    // SAME token (e.g. a zombie retry): re-check inside the retry loop
    var attempts = 0
    while (true) {
      if (tokensReferenced(fs, root).contains(batchToken)) return -1L
      val head = currentVersion(spark, table)
      // strict schema check against the head this attempt claims — a
      // streaming batch never evolves the schema silently; evolve via
      // [[write]](mergeSchema = true) first
      val schemaJson =
        if (head >= 0) {
          val headSchema = DataType.fromJson(state(spark, table, Some(head))
            .schemaJson).asInstanceOf[StructType]
          resolveAppendSchema(headSchema, df.schema, mergeSchema = false).json
        } else df.schema.json
      try return commit(spark, table, "append", adds, Nil, schemaJson, head,
        checkpointInterval = checkpointInterval)
      catch {
        case _: java.util.ConcurrentModificationException if attempts < 30 =>
          // backoff past TornReclaimGraceMs in the worst case, so a
          // dead writer's torn head self-heals within one call; the
          // common claim-race retry stays tens of ms
          attempts += 1; Thread.sleep(25L * math.min(attempts, 10))
      }
    }
    -1L // unreachable
  }

  /** Every token dir any manifest ever referenced (committed or torn,
    * retained or expired) — checkpoint-seeded, O(checkpointInterval)
    * per call (see [[tokenSetAt]]). The cumulative set also closes a
    * replay hole retention used to open: a batch whose only
    * referencing manifest was [[expire]]d stays skipped. */
  private def tokensReferenced(fs: FileSystem, root: Path): Set[String] =
    tokenSetAt(fs, root)

  /** OPTIMIZE: rewrite the head's live set range-clustered on
    * `clusterColumn` as ONE new commit — readers of the old versions
    * keep their exact file sets (small-file compaction never rewrites
    * history), zone maps start pruning on the new one. Lost-update
    * safe: planned against the head like any overwrite. */
  def compact(spark: SparkSession, table: String, clusterColumn: String,
              nFiles: Int,
              checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    val head = currentVersion(spark, table)
    val cur = state(spark, table, Some(head))
    val df = read(spark, table, Some(head))
    val (fs, rootP) = fsOf(spark, table)
    val token = java.util.UUID.randomUUID().toString.take(12)
    val tokenDir = new Path(poolDir(rootP), token)
    df.repartitionByRange(nFiles, org.apache.spark.sql.functions.col(clusterColumn))
      .sortWithinPartitions(clusterColumn)
      .write.mode("errorifexists").parquet(tokenDir.toString)
    val adds = partFiles(fs, rootP, tokenDir)
    commit(spark, table, "compact", adds, cur.files, cur.schemaJson, head,
      checkpointInterval = checkpointInterval)
  }

  /** OPTIMIZE (Z-ORDER): rewrite the head's live set clustered on the
    * interleaved rank-normalized Morton key of 2–8 columns, as ONE
    * commit — [[compact]]'s multi-dimension form. After it,
    * [[readPruned]] with one dimension as the cluster column and the
    * rest as `optionalColumns` skips files on ANY of the dimensions at
    * planning time: range clustering serves one predicate column well,
    * Z-ordering serves several at once (the standard OPTIMIZE ZORDER
    * trade — per-dimension pruning is a bit weaker than a dedicated
    * sort, but every dimension prunes). Rank normalization (quantile
    * boundaries from one `approxQuantile` pass) keeps interleaving
    * effective under skew — same recipe as
    * [[ClusteredWriter.writeZOrderedRanked]], committed through the
    * snapshot token protocol so history stays time-travelable and the
    * change feed sees a row-content no-op (`compact` op by contract). */
  def compactZ(spark: SparkSession, table: String, cols: Seq[String],
               nFiles: Int, buckets: Int = 256,
               checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    import org.apache.spark.sql.functions.{col => c}
    require(cols.size >= 2 && cols.size <= 8,
      s"Z-order wants 2-8 columns, got ${cols.size} (use compact for one)")
    require(buckets >= 2 && buckets <= 256, s"buckets must be in [2,256], got $buckets")
    // the Morton key packs min(16, 62/k) bits per dimension, so the
    // boundary count (buckets − 1) must fit that code space — validated
    // HERE, before the approxQuantile pass, not inside mortonKeyRanked
    // after it (5+ dims shrink the per-dimension budget below 256)
    val zBits = math.min(16, 62 / cols.size)
    require(buckets <= (1 << zBits),
      s"buckets=$buckets exceeds the $zBits-bit per-dimension code space " +
        s"for ${cols.size} Z-order columns — use buckets <= ${1 << zBits}")
    val head = currentVersion(spark, table)
    val cur = state(spark, table, Some(head))
    val df = read(spark, table, Some(head))
    require(!df.columns.contains("_z"),
      "input column '_z' clashes with the working Morton-key column")
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val quantiles = df.select(cols.map(x => c(x).cast("double").as(x)): _*)
      .stat.approxQuantile(cols.toArray, probs, 0.001)
    val dims = cols.zip(quantiles).map { case (x, q) =>
      require(q.nonEmpty, s"cannot rank-normalize '$x': empty or all-NULL column")
      (c(x), q.distinct.sorted)
    }
    val (fs, rootP) = fsOf(spark, table)
    val token = java.util.UUID.randomUUID().toString.take(12)
    val tokenDir = new Path(poolDir(rootP), token)
    df.withColumn("_z", ZOrder.mortonKeyRanked(dims))
      .repartitionByRange(nFiles, c("_z"))
      .sortWithinPartitions(c("_z"))
      .drop("_z")
      .write.mode("errorifexists").parquet(tokenDir.toString)
    val adds = partFiles(fs, rootP, tokenDir)
    commit(spark, table, "compact", adds, cur.files, cur.schemaJson, head,
      checkpointInterval = checkpointInterval)
  }

  // ── per-file Bloom sidecar ────────────────────────────────────────
  // The point-lookup complement to zone maps on the SNAPSHOT format:
  // [min,max] prunes nothing for a high-cardinality column the table
  // is not clustered by, so an unclustered point lookup scans every
  // file. The sidecar lives at `<root>/_bloom/<column>/` keyed by
  // ABSOLUTE file path — pool files are immutable, so a row can never
  // go stale; files written after the build are simply absent and are
  // never pruned (may-contain). [[SnapshotFileIndex]] consults it
  // transparently for `=`/`IN` filters on both the SQL and vectorized
  // read paths. Layout, reads and commit-time appends: [[Sidecar]].

  /** Build (or refresh) the Bloom sidecar for `column` over the HEAD's
    * live files. Returns the number of files indexed. Cost: one
    * distributed pass over the live data (the filter build is
    * DataFrame aggregates; only (file, word, bits) rows shuffle). */
  def buildBloom(spark: SparkSession, table: String, column: String,
                 expectedItemsPerFile: Long = 1000000L,
                 fpp: Double = 0.01): Long = {
    val head = currentVersion(spark, table)
    require(head >= 0, s"no snapshot table at $table")
    val cur = state(spark, table, Some(head))
    if (cur.files.isEmpty) return 0L
    val (fs, rootP) = fsOf(spark, table)
    val abs = qualified(fs, rootP, cur.files)
    val df = BloomIndex.buildFrom(spark.read.parquet(abs: _*), column,
      expectedItemsPerFile, fpp)
    val dir = Sidecar.dir(rootP, Sidecar.Bloom, column)
    df.write.mode("overwrite").parquet(dir.toString)
    // persist the geometry beside the filters (the overwrite wiped any
    // previous copy — a full rebuild may legitimately re-size m):
    // commit-time maintenance then resolves it with one tiny read
    val m = BloomIndex.optimalBits(expectedItemsPerFile, fpp)
    writeBloomGeometry(fs, dir, column, m,
      BloomIndex.optimalHashes(m, expectedItemsPerFile), overwrite = true)
    spark.read.parquet(dir.toString).count()
  }

  /** The sidecar's filter table for `column`, if one was built
    * (rename-proof, see [[Sidecar.read]]). */
  private[lake] def bloomFor(spark: SparkSession, tablePath: String,
                             column: String): Option[DataFrame] =
    Sidecar.read(spark, tablePath, Sidecar.Bloom, column)

  // ── per-file SUM sidecar (agg stats) ─────────────────────────────
  // Parquet footers carry count/min/max but never SUMS, so the
  // dominant reporting aggregate at 100 TB — `SELECT sum(x) … WHERE
  // cluster_col BETWEEN lo AND hi` — always paid a full scan even when
  // every interior file was zone-map covered. This sidecar stores one
  // (filepath, sum, non-null count) row per live file per collected
  // column at `<root>/_aggstats/<column>/`, letting
  // [[PushFilteredAggToManifest]] answer SUM/AVG for covered files
  // from metadata and scan only the boundary. Soundness mirrors the
  // Bloom sidecar's: pool files are IMMUTABLE, so a row can never go
  // stale; files lacking a row (written after the collect) simply
  // degrade to scanned, and DV-carrying files are never covered by the
  // rewrite in the first place. Only INTEGRAL columns are collected —
  // integer addition is exact and associative, where float sums are
  // rounding-order-dependent. EVAL-MODE INDEPENDENCE: the collect
  // accumulates in DECIMAL(38,0) and refuses (→ scan) any file whose
  // exact sum exceeds long range ([[aggStatsSumType]]/[[appendAggStats]]),
  // so a stored sum is the file's true sum under ANY collecting
  // session's mode. Serving is then sound for both query modes: a
  // LEGACY fold of exact per-file sums equals the stock wrapped total
  // (addition mod 2^64 is associative), and an ANSI fold re-checks
  // overflow in the emitted Sum aggregates — the per-file grouping is
  // just a legal physical partitioning of the same query, and Spark's
  // own transient-overflow detection already varies with partitioning.

  private[lake] val aggStatsIntegral: Set[org.apache.spark.sql.types.DataType] =
    Set(org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)

  /** Collect per-file (sum, non-null count) for `column` over the
    * HEAD's live files that don't already have a sidecar row —
    * incremental by construction (re-running after appends pays only
    * the new files; an unchanged table pays one listing). Zero-row or
    * all-null files get an explicit (null, 0) row so they stay covered
    * instead of degrading forever. Returns the number of files newly
    * collected. Cost: one distributed pass over the MISSING files'
    * `column` bytes (column-pruned scan), one tiny sidecar append. */
  def collectAggStats(spark: SparkSession, table: String, column: String): Long = {
    val head = currentVersion(spark, table)
    require(head >= 0, s"no snapshot table at $table")
    val cur = state(spark, table, Some(head))
    val schema = org.apache.spark.sql.types.DataType.fromJson(cur.schemaJson)
      .asInstanceOf[StructType]
    require(schema.fieldNames.contains(column), s"no column '$column' in $table")
    require(aggStatsIntegral.contains(schema(column).dataType),
      s"agg stats require an integral column; '$column' is " +
        schema(column).dataType.sql + " (float sums are rounding-order-dependent, " +
        "so a sidecar fold could differ from a scan in the last ulp)")
    if (cur.files.isEmpty) return 0L
    val (fs, rootP) = fsOf(spark, table)
    val abs = qualified(fs, rootP, cur.files)
    val have: Set[String] = aggStatsFor(spark, table, column)
      .map(_.select("filepath").collect().map(_.getString(0)).toSet)
      .getOrElse(Set.empty)
    val missing = abs.filterNot(have)
    if (missing.isEmpty) return 0L
    appendAggStats(spark, fs, rootP, spark.read.parquet(missing: _*), missing, Seq(column))
    missing.size.toLong
  }

  /** The sidecar's (filepath, sum_v, cnt) table for `column`, if one
    * was collected (rename-proof, see [[Sidecar.read]]), one row per
    * file: duplicate rows for one file (two concurrent collects) are
    * IDENTICAL — files are immutable — so either copy serves. */
  def aggStatsFor(spark: SparkSession, tablePath: String,
                  column: String): Option[DataFrame] =
    Sidecar.read(spark, tablePath, Sidecar.AggStats, column).map(_.dropDuplicates("filepath"))

  // the collected sidecar, ONE entry per sidecar dir (a version-keyed
  // map would retain every superseded version's rows across a long
  // streaming session): the dir-version tag (delta count + max mtime
  // from ONE listing) invalidates the entry when a new collect lands
  private val aggStatsMapCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Map[String, (Option[Long], Long)])]()

  /** Driver-held sidecar map for the rewrite: qualified path →
    * (sum — None when the file has no non-null values —, non-null
    * count). One fs listing per call; the collect() behind it runs
    * once per sidecar version. Empty when never collected. */
  private[lake] def aggStatsMap(spark: SparkSession, tablePath: String,
                                column: String): Map[String, (Option[Long], Long)] = {
    val (fs, rootP) = fsOf(spark, tablePath)
    val dir = Sidecar.dir(rootP, Sidecar.AggStats, column)
    if (!fs.exists(dir)) return Map.empty
    val ls = fs.listStatus(dir)
    val ver = s"${ls.length}#${ls.map(_.getModificationTime).foldLeft(0L)(math.max)}"
    val key = dir.toString
    val cached = aggStatsMapCache.get(key)
    if (cached != null && cached._1 == ver) return cached._2
    val fresh = aggStatsFor(spark, tablePath, column) match {
      case None => Map.empty[String, (Option[Long], Long)]
      case Some(df) => df.collect().map { r =>
        r.getString(0) -> ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getLong(2))
      }.toMap
    }
    aggStatsMapCache.put(key, (ver, fresh))
    fresh
  }

  /** OPTIMIZE (BIN-PACK): rewrite ONLY the head's small files into
    * ~`targetBytes` outputs as one commit — the routine maintenance op
    * a continuously-ingested table needs, where [[compact]]'s
    * whole-head rewrite would be a 100 TB job to fix a few thousand
    * micro-batch crumbs. Files at or above `smallBytes` are NOT read,
    * NOT rewritten, and stay byte-identical (keeping their zone-map
    * stats, bloom entries, and page-cache residency). A small file
    * that carries deletion vectors rewrites through them — its dead
    * rows drop and its vector set dies with the removed file, so
    * bin-packing doubles as a partial purge. Output layout follows the
    * table's declared cluster columns ([[clusterByOf]]) when present —
    * range-distributed + sorted, so the packed files prune — else a
    * plain coalesce-shaped repartition. Commits as `compact` (a
    * row-content no-op by contract; the change feed skips it). Returns
    * the new version, or the head unchanged when fewer than `minFiles`
    * small files exist. Cost: O(small-file bytes) read + written, one
    * driver listing for sizes. Lost-update safe like every non-append
    * commit. */
  def compactBin(spark: SparkSession, table: String,
                 targetBytes: Long = 128L * 1024 * 1024,
                 smallBytes: Long = -1L, minFiles: Int = 2,
                 checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    require(targetBytes > 0, "targetBytes must be positive")
    val smallBound = if (smallBytes > 0) smallBytes else targetBytes / 2
    val head = currentVersion(spark, table)
    val cur = state(spark, table, Some(head))
    val (fs, rootP) = fsOf(spark, table)
    val sizes = fileSizes(fs, rootP, cur.files)
    val sized = cur.files.map(f => f -> sizes(f))
    val small = sized.filter(_._2 < smallBound)
    if (small.size < math.max(2, minFiles)) return head
    val smallFiles = small.map(_._1)
    val nOut = math.max(1, math.ceil(small.map(_._2).sum.toDouble / targetBytes).toInt)
    val df = scanVersion(spark, table, cur, Some(smallFiles))
    val token = java.util.UUID.randomUUID().toString.take(12)
    val tokenDir = new Path(poolDir(rootP), token)
    val shaped = clusterByOf(spark, table) match {
      case c if c.nonEmpty =>
        df.repartitionByRange(nOut, c.map(org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(c.head, c.tail: _*)
      case _ => df.repartition(nOut)
    }
    shaped.write.mode("errorifexists").parquet(tokenDir.toString)
    val adds = partFiles(fs, rootP, tokenDir)
    // removed files drop their DV sets in the same replay step
    commit(spark, table, "compact", adds, smallFiles, cur.schemaJson, head,
      checkpointInterval = checkpointInterval)
  }

  /** Diagnostic: directory listings issued by [[fileSizes]] since JVM
    * start — the spec pins the census at O(token dirs), not O(files). */
  private[lake] val censusListings = new java.util.concurrent.atomic.AtomicLong(0L)

  /** BATCHED size census for a live file set: ONE `listStatus` per pool
    * token dir instead of one `getFileStatus` round-trip per file — on
    * a million-file head the per-file loop is minutes of driver RPC
    * time before any real work, and a token dir holds its whole
    * commit's files, so the listing count is O(commits retained), not
    * O(files). A wanted file missing from its dir's listing throws the
    * same `FileNotFoundException` the per-file probe raised. */
  private[lake] def fileSizes(fs: FileSystem, root: Path,
                              relFiles: Seq[String]): Map[String, Long] = {
    val dataRoot = dataRootOf(root)
    val wanted = relFiles.toSet
    val byDir = relFiles.groupBy(f => f.lastIndexOf('/') match {
      case -1 => ""
      case i => f.substring(0, i)
    })
    val out = Map.newBuilder[String, Long]
    for (dir <- byDir.keys) {
      censusListings.incrementAndGet()
      val dirPath = if (dir.isEmpty) dataRoot else new Path(dataRoot, dir)
      for (st <- fs.listStatus(dirPath) if st.isFile) {
        val rel = if (dir.isEmpty) st.getPath.getName else dir + "/" + st.getPath.getName
        if (wanted.contains(rel)) out += rel -> st.getLen
      }
    }
    val res = out.result()
    relFiles.find(f => !res.contains(f)).foreach(f =>
      throw new java.io.FileNotFoundException(s"$f not found under $dataRoot"))
    res
  }

  /** PURGE: materialize the head's merge-on-read deletes by rewriting
    * ONLY the files that carry deletion vectors — each dirty file is
    * re-read once with its dead rows dropped, the clean files are not
    * read, not rewritten, and stay byte-identical (and keep their
    * zone-map stats, bloom entries, and page-cache residency) across
    * the commit. This is the bounded merge-on-read → copy-on-write
    * conversion every DV format needs ([[delete]] keeps deletes
    * O(deleted rows); a steady trickle of them would otherwise tax
    * every future read with the anti-join until a FULL [[compact]]
    * rewrote the table): cost is O(dirty-file bytes), the right
    * maintenance cadence at 100 TB where deletes cluster in a few
    * recent files. The op commits as `purge` — a row-content no-op by
    * contract, so [[readChanges]] (and every feed consumer) skips it
    * exactly like `compact`. Old versions still time-travel with their
    * vectors applied; the superseded DV parquet files age out with
    * them via [[expire]]. Returns the new version, or the head
    * unchanged when no file carries a vector. Lost-update safe like
    * every non-append commit. */
  def purgeDeletes(spark: SparkSession, table: String,
                   checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    val head = currentVersion(spark, table)
    val cur = state(spark, table, Some(head))
    val dirty = cur.files.filter(cur.dvs.contains)
    if (dirty.isEmpty) return head
    val (fs, rootP) = fsOf(spark, table)
    val token = java.util.UUID.randomUUID().toString.take(12)
    val tokenDir = new Path(poolDir(rootP), token)
    scanVersion(spark, table, cur, Some(dirty))
      .write.mode("errorifexists").parquet(tokenDir.toString)
    val adds = partFiles(fs, rootP, tokenDir)
    // removing a file drops its DV set in the same replay step (state's
    // `p.removes.foreach(dvs.remove)`), so no dvSets restate is needed
    commit(spark, table, "purge", adds, dirty, cur.schemaJson, head,
      checkpointInterval = checkpointInterval)
  }

  /** MAINTENANCE POLICY for merge-on-read deletes: [[purgeDeletes]]
    * when the head's dead-row debt crosses a bound, else a no-op.
    * Every read of a DV'd version pays a broadcast of the dead-row set
    * ([[dvRows]]) and the anti-join on dirty files; [[delete]] keeps
    * writes O(deleted rows), so WITHOUT a trigger that read-side tax
    * only ever grows — this is the trigger. Call it on an ingest/delete
    * cadence (e.g. every N micro-batches, or after each CDC apply):
    *
    *  - `maxDirtyFraction`: purge when more than this fraction of the
    *    head's live files carry vectors (read-amplification bound);
    *  - `maxDeadRows`: purge when the pooled dead-row count exceeds
    *    this (broadcast-size bound — the DV parquet files are
    *    dead-row-sized, so counting them is cheap).
    *
    * Returns the new version after a purge, or the head unchanged.
    * Cost when triggered is [[purgeDeletes]]'s O(dirty-file bytes);
    * when not triggered, one footer-count pass over the (small) DV
    * files. Lost-update safe like every non-append commit. */
  def maintain(spark: SparkSession, table: String,
               maxDirtyFraction: Double = 0.2, maxDeadRows: Long = 1000000L,
               checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    require(maxDirtyFraction >= 0.0 && maxDeadRows >= 0L,
      "bounds must be non-negative")
    val head = currentVersion(spark, table)
    val cur = state(spark, table, Some(head))
    val dirty = cur.files.count(cur.dvs.contains)
    if (dirty == 0) return head
    val dirtyFraction = dirty.toDouble / cur.files.size
    val trigger =
      if (dirtyFraction > maxDirtyFraction) true
      else {
        // dead-row count from DV parquet FOOTERS, on the driver: the
        // non-triggering path of a per-micro-batch policy check must be
        // JOBLESS (no Spark job, no executor round-trip) — DV files are
        // dead-row-sized and immutable, so each footer is read at most
        // once per JVM (cache below) and the steady-state cost is a map
        // lookup per DV file
        val (fs, root) = fsOf(spark, table)
        cur.dvs.values.flatten.toSeq.distinct.map { f =>
          footerRowCount(fs, new Path(dataRootOf(root), f))
        }.sum > maxDeadRows
      }
    if (trigger) purgeDeletes(spark, table, checkpointInterval) else head
  }

  /** Driver-side parquet footer row count, cached per path (pool files
    * are immutable by protocol, so the count is valid for the file's
    * life). Used by [[maintain]]'s no-op path, which must run no Spark
    * job; DV files only — data files go through the distributed
    * [[StatsAgg.readFooters]]. */
  private val footerRowCountCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.lang.Long](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean =
        size() > 100000
    })

  private def footerRowCount(fs: FileSystem, p: Path): Long = {
    val key = p.toString
    val cached = footerRowCountCache.get(key)
    if (cached != null) return cached.longValue()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, fs.getConf))
    val n = try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
            finally reader.close()
    footerRowCountCache.put(key, java.lang.Long.valueOf(n))
    n
  }

  /** Copy-on-write MERGE as ONE snapshot commit: rows of `upserts`
    * replace same-key rows, `deleteKeys` vanish, every other row rides
    * along untouched. File-level pruning bounds the rewrite: footer
    * stats are harvested for the HEAD's live files only, and a file is
    * rewritten only when its [min,max] on `keyCol` may contain an
    * affected key (stats-less files always rewrite — may-contain,
    * sound). Unaffected files are not read, not rewritten, and stay
    * byte-identical across the commit; the pre-merge version remains
    * time-travelable.
    *
    * The affected-key set is collected to the driver (CDC-batch-sized
    * by contract, same as [[Merge]]'s prune list — a backfill that
    * touches every key should [[write]] an overwrite instead).
    * Lost-update safe: planned against the head, so a concurrent
    * commit makes this throw rather than resurrect overwritten rows.
    * Re-running the same merge converges (same keys → same rows), it
    * is NOT exactly-once — wrap in [[appendBatch]]-style tokens via a
    * caller check on [[history]] if the source may replay. */
  def merge(spark: SparkSession, table: String, keyCol: String,
            upserts: DataFrame, deleteKeys: Seq[Any] = Nil,
            clusterColumn: Option[String] = None, nFiles: Int = 4,
            checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    val head = currentVersion(spark, table)
    val cur = state(spark, table, Some(head))
    val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    val (fs, rootP) = fsOf(spark, table)
    val upsertKeys = upserts.select(keyCol).distinct().collect().map(_.get(0)).toSeq
    val keys = (upsertKeys ++ deleteKeys).distinct
    if (keys.isEmpty) return head

    // affected = live files whose footer interval may contain a key;
    // files without usable stats rewrite (never silently kept)
    val affectedRel = filesMayContain(spark, table, cur, keyCol, keys)

    val keysDf = spark.createDataFrame(
      // slice the key batch so no single task ships megabytes of keys
      // (a 150k-key batch in one slice was the 4.4 MiB task the round-11
      // bench flagged)
      spark.sparkContext.parallelize(keys.map(Row(_)),
        math.max(1, keys.size / 20000)),
      StructType(Seq(schema(keyCol).copy(name = "_mk"))))
    // DV-aware: rows already dead in an affected file must not be
    // resurrected by its rewrite
    val survivors = scanVersion(spark, table, cur, Some(affectedRel))
      .join(org.apache.spark.sql.functions.broadcast(keysDf),
        org.apache.spark.sql.functions.col(keyCol) ===
          org.apache.spark.sql.functions.col("_mk"), "left_anti")
    val replacement = survivors.unionByName(
      upserts.select(schema.fieldNames.map(org.apache.spark.sql.functions.col): _*))

    val token = java.util.UUID.randomUUID().toString.take(12)
    val tokenDir = new Path(poolDir(rootP), token)
    val cc = clusterColumn.getOrElse(keyCol)
    replacement
      .repartitionByRange(nFiles, org.apache.spark.sql.functions.col(cc))
      .sortWithinPartitions(cc)
      .write.mode("errorifexists").parquet(tokenDir.toString)
    val adds = partFiles(fs, rootP, tokenDir)
    commit(spark, table, "merge", adds, affectedRel, cur.schemaJson, head,
      checkpointInterval = checkpointInterval)
  }

  /** Row-level DELETE as a deletion-vector commit — O(deleted rows)
    * written, ZERO data files rewritten. The predicate scan is pushed
    * into the parquet reader (row-group skipping applies); matching
    * rows' positions (`_metadata.row_index`) are written as DV parquet
    * `(file, pos)` rows under a fresh commit token — one file in the
    * CDC-sized common case, `⌈rows / dvRowsPerFile⌉` (≤ 64) for a bulk
    * predicate, so no delete funnels through one task — and the
    * commit restates each affected file's vector set (prior set + the
    * new DV — replacement semantics, see [[render]]). Readers of the
    * new version apply the DV merge-on-read; every pre-delete version
    * still reads the rows (time travel is un-deleted). Contrast with
    * [[merge]]'s copy-on-write: at 100 TB a 0.001 % delete rewrites
    * nothing here, where copy-on-write would rewrite every may-contain
    * file. [[compact]] folds DVs into clean files; re-deleting an
    * already-dead row is a no-op (positions are idempotent and the
    * scan excludes dead rows). Returns the new version, or the head
    * unchanged when nothing matched. Lost-update safe like every
    * non-append commit. `candidates` (table-relative) bounds the scan
    * to a pruned file subset — see [[deleteByKeys]]. */
  def delete(spark: SparkSession, table: String,
             predicate: org.apache.spark.sql.Column,
             candidates: Option[Seq[String]] = None,
             checkpointInterval: Int = DefaultCheckpointInterval,
             dvRowsPerFile: Long = 8L * 1024 * 1024): Long = {
    import org.apache.spark.sql.functions.col
    require(dvRowsPerFile > 0, "dvRowsPerFile must be positive")
    val head = currentVersion(spark, table)
    val cur = state(spark, table, Some(head))
    val scanFiles = candidates.getOrElse(cur.files)
    require(scanFiles.forall(cur.files.contains),
      "candidate files must be live in the head version")
    if (scanFiles.isEmpty) return head
    val (fs, root) = fsOf(spark, table)

    // the scan excludes rows already dead — a re-run of the same delete
    // (or an overlapping predicate) must not grow the vectors
    val hits = scanVersion(spark, table, cur, Some(scanFiles), positions = true)
      .where(predicate)
      .select(col("_uf").as("file"), col("_up").as("pos"))

    // count-aware DV layout: the CDC-sized common case writes ONE file,
    // but a predicate matching 10⁸ rows must not funnel through one
    // task — the hit set is cached (it is (string, long) pairs, tiny
    // relative to the scanned data) so the count never re-runs the scan
    hits.persist()
    try {
      val nDead = hits.count()
      if (nDead == 0) return head
      val nParts = math.min(64L, nDead / dvRowsPerFile + 1).toInt
      val token = java.util.UUID.randomUUID().toString.take(12)
      val tokenDir = new Path(poolDir(root), token)
      hits.repartition(nParts).write.mode("errorifexists").parquet(tokenDir.toString)
      val dvRel = partFiles(fs, root, tokenDir)
      val affected = spark.read.parquet(tokenDir.toString)
        .select("file").distinct().collect().map(_.getString(0)).toSeq.sorted
      val dvSets = affected.map(f => f -> (cur.dvs.getOrElse(f, Nil) ++ dvRel))
      commit(spark, table, "delete", adds = Nil, removes = Nil,
        schemaJson = cur.schemaJson, expected = head, dvSets = dvSets,
        checkpointInterval = checkpointInterval)
    } finally hits.unpersist()
  }

  /** Row-level UPDATE as ONE merge-on-read commit: the matched rows die
    * via deletion vectors AND their updated copies land as appended
    * files — one atomic manifest claim carries both halves, so readers
    * see the old rows or the new, never neither nor both. Cost is
    * O(matched rows) written with ZERO data files rewritten — contrast
    * copy-on-write UPDATE, which at 100 TB rewrites every may-contain
    * file for a point fix. Time travel keeps the pre-update rows;
    * [[purgeDeletes]]/[[maintain]] fold the vectors as usual; the
    * change feed shows the commit as bounded deletes + inserts (see
    * [[readChanges]]'s `update` case), so incremental views maintain
    * straight through it. `assignments` values are cast to the column's
    * committed type. NOT idempotent by design (SQL semantics: re-running
    * `SET x = x + 1` matches the updated rows and adds again); rows
    * already dead under the head's vectors are excluded, so an UPDATE
    * whose predicate overlaps a prior DELETE touches only live rows.
    * Returns the new version, or the head unchanged when nothing
    * matched. Lost-update safe like every non-append commit. */
  def update(spark: SparkSession, table: String,
             predicate: org.apache.spark.sql.Column,
             assignments: Map[String, org.apache.spark.sql.Column],
             checkpointInterval: Int = DefaultCheckpointInterval,
             dvRowsPerFile: Long = 8L * 1024 * 1024): Long = {
    import org.apache.spark.sql.functions.col
    require(assignments.nonEmpty, "update needs at least one assignment")
    val head = currentVersion(spark, table)
    val cur = state(spark, table, Some(head))
    if (cur.files.isEmpty) return head
    val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    assignments.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"unknown column '$c' in UPDATE of $table (schema: ${schema.fieldNames.mkString(",")})"))
    val (fs, root) = fsOf(spark, table)

    // ONE scan finds the live matched rows with their positions AND payload
    val hits = scanVersion(spark, table, cur, positions = true).where(predicate)
    hits.persist()
    try {
      val nHit = hits.count()
      if (nHit == 0) return head
      // DV half: the matched rows' positions, count-aware layout like
      // [[delete]]
      val nParts = math.min(64L, nHit / dvRowsPerFile + 1).toInt
      val dvToken = java.util.UUID.randomUUID().toString.take(12)
      val dvDir = new Path(poolDir(root), dvToken)
      hits.select(col("_uf").as("file"), col("_up").as("pos"))
        .repartition(nParts).write.mode("errorifexists").parquet(dvDir.toString)
      val dvRel = partFiles(fs, root, dvDir)
      val affected = hits.select("_uf").distinct()
        .collect().map(_.getString(0)).toSeq.sorted
      val dvSets = affected.map(f => f -> (cur.dvs.getOrElse(f, Nil) ++ dvRel))
      // APPEND half: the updated copies as ONE simultaneous projection —
      // SQL UPDATE semantics require every SET right-hand side to read
      // the PRE-update row, so `SET a = b, b = a` swaps and
      // `SET a = a + b, b = 0` uses the old b. A sequential
      // withColumn-per-assignment would feed later assignments the
      // already-updated columns (in unordered Map iteration order, no
      // less). Each value is cast back to the committed column type so
      // the schema stays a fixed point.
      val updated = hits.select(schema.fields.toSeq.map(f =>
        assignments.get(f.name).map(_.cast(f.dataType)).getOrElse(col(f.name))
          .as(f.name)): _*)
      val addToken = java.util.UUID.randomUUID().toString.take(12)
      val addDir = new Path(poolDir(root), addToken)
      updated.write.mode("errorifexists").parquet(addDir.toString)
      val adds = partFiles(fs, root, addDir)
      commit(spark, table, "update", adds, Nil, cur.schemaJson, head,
        dvSets = dvSets, checkpointInterval = checkpointInterval)
    } finally hits.unpersist()
  }

  /** One WHEN MATCHED arm of [[mergeInto]]: `assignments = None` is
    * DELETE, `Some(map)` is UPDATE SET. Columns reference the joined
    * pair through the `_t` (target) and `_s` (source) aliases. */
  final case class MatchedAction(condition: Option[org.apache.spark.sql.Column],
                                 assignments: Option[Map[String, org.apache.spark.sql.Column]])

  /** One WHEN NOT MATCHED arm: INSERT with `values` per target column
    * (absent columns insert NULL). Columns reference `_s`. */
  final case class NotMatchedAction(condition: Option[org.apache.spark.sql.Column],
                                    values: Map[String, org.apache.spark.sql.Column])

  /** MERGE INTO with full SQL semantics as ONE merge-on-read commit:
    * matched target rows die via deletion vectors, their updated copies
    * and the not-matched inserts land as appended files, and a single
    * manifest claim carries all of it — O(changed rows) written, ZERO
    * data files rewritten (contrast [[merge]], the copy-on-write
    * key-upsert that REWRITES affected files; this is the general form
    * with per-arm conditions, first-match-wins, and the standard
    * duplicate-match error).
    *
    * The target is exposed as alias `_t`, the source as `_s` — build
    * `condition` / arm columns against those names. First arm whose
    * condition holds wins (SQL order semantics); a target row matched
    * by MORE than one source row throws (the standard MERGE
    * cardinality error) BEFORE anything commits.
    *
    * Scale: `pruneKey = Some((targetCol, sourceCol))` — an equi-pair
    * from the merge condition — bounds the TARGET scan to the
    * may-contain files of the source's distinct keys (footer zone maps,
    * the [[merge]]/[[deleteByKeys]] prune), sound because a file whose
    * interval excludes every source key can produce no match, so both
    * the inner join AND the not-matched anti-join see identical rows.
    * Batches beyond `maxProbeKeys` distinct keys fall back to the full
    * scan (backfill regime — correct, just unpruned).
    *
    * `notMatchedBySource` arms (UPDATE/DELETE of target rows with no
    * source match — columns reference `_t` only) DISABLE the prune:
    * they touch exactly the rows outside the source's key range, so the
    * scan is inherently table-wide — the same cost every engine pays
    * for that clause. */
  def mergeInto(spark: SparkSession, table: String,
                source: DataFrame, condition: org.apache.spark.sql.Column,
                matched: Seq[MatchedAction], notMatched: Seq[NotMatchedAction],
                pruneKey: Option[(String, String)] = None,
                maxProbeKeys: Int = 100000,
                checkpointInterval: Int = DefaultCheckpointInterval,
                dvRowsPerFile: Long = 8L * 1024 * 1024,
                notMatchedBySource: Seq[MatchedAction] = Nil): Long = {
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE with no action arms")
    val head = currentVersion(spark, table)
    val cur = state(spark, table, Some(head))
    val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
    val (fs, root) = fsOf(spark, table)

    // Pin the source to ONE materialization before anything reads it:
    // the prune-key collect, the cardinality check, the matched join,
    // and both anti-joins must all see the SAME rows. A
    // non-deterministic source (rand(), LIMIT, sampling) re-evaluated
    // per consumer could pass the duplicate-match check yet produce
    // duplicate matches in the evaluation that writes — or land a row
    // as both an update and an insert.
    source.persist()
    try {
      mergeIntoPinned(spark, table, source, condition, matched, notMatched,
        pruneKey, maxProbeKeys, checkpointInterval, dvRowsPerFile,
        notMatchedBySource, head, cur, schema, fs, root)
    } finally { source.unpersist(); () }
  }

  private def mergeIntoPinned(spark: SparkSession, table: String,
                source: DataFrame, condition: org.apache.spark.sql.Column,
                matched: Seq[MatchedAction], notMatched: Seq[NotMatchedAction],
                pruneKey: Option[(String, String)],
                maxProbeKeys: Int,
                checkpointInterval: Int,
                dvRowsPerFile: Long,
                notMatchedBySource: Seq[MatchedAction],
                head: Long, cur: Snapshot, schema: StructType,
                fs: org.apache.hadoop.fs.FileSystem, root: Path): Long = {
    import org.apache.spark.sql.functions.{col, lit, when}

    // zone-map prune of the target scan by the source's key batch —
    // sound for matched arms AND the not-matched anti-join (a pruned
    // file may-contains no source key, so none of its rows can match),
    // but NOT with not-matched-by-source arms, which touch exactly the
    // target rows OUTSIDE the source: those force the full scan
    val scanFiles: Seq[String] = pruneKey match {
      case Some((tk, sk)) if cur.files.nonEmpty && notMatchedBySource.isEmpty =>
        require(schema.fieldNames.contains(tk), s"unknown prune column '$tk'")
        val keys = source.select(sk).distinct().limit(maxProbeKeys + 1)
          .collect().map(_.get(0)).filter(_ != null).toSeq
        if (keys.size > maxProbeKeys) cur.files // backfill: full scan
        else if (keys.isEmpty) Nil
        else filesMayContain(spark, table, cur, tk, keys)
      case _ => cur.files
    }

    // live target rows with their physical positions, aliased `_t`
    val tA = scanVersion(spark, table, cur, Some(scanFiles), positions = true).alias("_t")
    val sA = source.alias("_s")

    /** First-arm-wins action index: 0 = no arm applies (row untouched). */
    def actionIndex(conds: Seq[Option[org.apache.spark.sql.Column]]): org.apache.spark.sql.Column =
      conds.zipWithIndex.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
        case (acc, (c, i)) =>
          val arm = c.getOrElse(lit(true))
          Some(acc.fold(when(arm, lit(i + 1)))(_.when(arm, lit(i + 1))))
      }.fold(lit(0))(_.otherwise(lit(0)))

    def castTo(f: StructField, c: org.apache.spark.sql.Column) = c.cast(f.dataType).as(f.name)

    val parts = Seq.newBuilder[DataFrame]
    val deadParts = Seq.newBuilder[DataFrame]
    val persisted = Seq.newBuilder[DataFrame]
    try {
      if (matched.nonEmpty) {
        val m = tA.join(sA, condition, "inner")
        // standard MERGE cardinality rule, checked before ANY write: a
        // target row matched by >1 source row is ambiguous
        val dup = m.groupBy(col("_uf"), col("_up")).count()
          .where(col("count") > 1).head(1)
        if (dup.nonEmpty) throw new IllegalStateException(
          "MERGE matched a target row with more than one source row — " +
            "deduplicate the source on the merge keys first")
        val affected = m.withColumn("_act", actionIndex(matched.map(_.condition)))
          .where(col("_act") > 0)
        affected.persist(); persisted += affected
        deadParts += affected.select(col("_uf").as("file"), col("_up").as("pos"))
        matched.zipWithIndex.foreach {
          case (MatchedAction(_, Some(asg)), i) =>
            parts += affected.where(col("_act") === i + 1)
              .select(schema.fields.toSeq.map(f =>
                castTo(f, asg.getOrElse(f.name, col(s"_t.${f.name}")))): _*)
          case _ => () // DELETE arm: dead positions only
        }
      }
      if (notMatched.nonEmpty) {
        val nm = sA.join(tA, condition, "left_anti")
          .withColumn("_act", actionIndex(notMatched.map(_.condition)))
          .where(col("_act") > 0)
        nm.persist(); persisted += nm
        notMatched.zipWithIndex.foreach { case (NotMatchedAction(_, vals), i) =>
          parts += nm.where(col("_act") === i + 1)
            .select(schema.fields.toSeq.map(f =>
              castTo(f, vals.getOrElse(f.name, lit(null)))): _*)
        }
      }
      if (notMatchedBySource.nonEmpty) {
        // target rows with NO source match: same arm machinery as
        // matched (columns reference _t only); each target row appears
        // once in the anti-join, so no cardinality check is needed
        val tn = tA.join(sA, condition, "left_anti")
          .withColumn("_act", actionIndex(notMatchedBySource.map(_.condition)))
          .where(col("_act") > 0)
        tn.persist(); persisted += tn
        deadParts += tn.select(col("_uf").as("file"), col("_up").as("pos"))
        notMatchedBySource.zipWithIndex.foreach {
          case (MatchedAction(_, Some(asg)), i) =>
            parts += tn.where(col("_act") === i + 1)
              .select(schema.fields.toSeq.map(f =>
                castTo(f, asg.getOrElse(f.name, col(s"_t.${f.name}")))): _*)
          case _ => () // DELETE arm
        }
      }

      val deadRows = deadParts.result().reduceOption(_ unionByName _)
      val nDead = deadRows.map(_.count()).getOrElse(0L)
      val addsDf = parts.result().reduceOption(_ unionByName _)
      val nAdds = addsDf.map(_.count()).getOrElse(0L)
      if (nDead == 0 && nAdds == 0) return head

      val dvSets: Seq[(String, Seq[String])] =
        if (nDead == 0) Nil
        else {
          val nParts = math.min(64L, nDead / dvRowsPerFile + 1).toInt
          val dvToken = java.util.UUID.randomUUID().toString.take(12)
          val dvDir = new Path(poolDir(root), dvToken)
          deadRows.get.repartition(nParts)
            .write.mode("errorifexists").parquet(dvDir.toString)
          val dvRel = partFiles(fs, root, dvDir)
          val affectedFiles = deadRows.get.select("file").distinct()
            .collect().map(_.getString(0)).toSeq.sorted
          affectedFiles.map(f => f -> (cur.dvs.getOrElse(f, Nil) ++ dvRel))
        }
      val adds: Seq[String] =
        if (nAdds == 0) Nil
        else {
          val addToken = java.util.UUID.randomUUID().toString.take(12)
          val addDir = new Path(poolDir(root), addToken)
          addsDf.get.write.mode("errorifexists").parquet(addDir.toString)
          partFiles(fs, root, addDir)
        }
      commit(spark, table, "merge_into", adds, Nil, cur.schemaJson, head,
        dvSets = dvSets, checkpointInterval = checkpointInterval)
    } finally persisted.result().foreach(_.unpersist())
  }

  /** Key-batch DELETE with file-level pruning: footer stats on `keyCol`
    * are harvested for the head's live files ([[StatsAgg]], O(version
    * files) of KB footers) and only may-contain files are scanned —
    * the [[merge]] prune applied to the DV path, so a CDC delete batch
    * touches O(affected files), not the table. Stats-less files are
    * always scanned (may-contain, sound). */
  def deleteByKeys(spark: SparkSession, table: String, keyCol: String,
                   keys: Seq[Any],
                   checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    if (keys.isEmpty) return currentVersion(spark, table)
    val head = currentVersion(spark, table)
    val candidateRel = filesMayContain(spark, table, state(spark, table, Some(head)), keyCol, keys)
    if (candidateRel.isEmpty) return head
    delete(spark, table,
      org.apache.spark.sql.functions.col(keyCol).isin(keys: _*),
      candidates = Some(candidateRel), checkpointInterval = checkpointInterval)
  }

  /** Roll the table back to `toVersion` as a NEW commit (never by
    * deleting history — the bad versions stay auditable and
    * time-travelable until [[expire]]). */
  def rollback(spark: SparkSession, table: String, toVersion: Long,
               checkpointInterval: Int = DefaultCheckpointInterval): Long = {
    val head = currentVersion(spark, table)
    val target = state(spark, table, Some(toVersion))
    val cur = state(spark, table, Some(head))
    val curSet = cur.files.toSet
    val tgtSet = target.files.toSet
    // DV restore: every target file whose dead-row set differs from the
    // head's gets its TARGET set restated (replacement semantics) — a
    // delete since `toVersion` is thereby un-deleted, and a file the
    // target knew as clean is explicitly cleared.
    val dvRestate = target.files.filter { f =>
      target.dvs.getOrElse(f, Nil) != cur.dvs.getOrElse(f, Nil)
    }.map(f => f -> target.dvs.getOrElse(f, Nil))
    commit(spark, table, "rollback",
      adds = target.files.filterNot(curSet), removes = cur.files.filterNot(tgtSet),
      schemaJson = target.schemaJson, expected = head, rollbackOf = Some(toVersion),
      dvSets = dvRestate, checkpointInterval = checkpointInterval)
  }

  // ── footer-stats cache ───────────────────────────────────────────

  /** Per-(file, column) footer-stats cache. A pool file is IMMUTABLE by
    * protocol — a commit token is never reused for different data and
    * data files are never modified in place — so harvested bounds are
    * valid for the file's whole life and a maintenance loop (merge /
    * deleteByKeys / readPruned, or any filtered [[scanVersion]] such as
    * a delete or update predicate, per tick) pays footer reads for NEW
    * files only, not O(version files) per call. That re-harvest was the
    * one measured per-refresh O(files) term in the steady-state JoinView
    * cycle (round-12 reconciliation). LRU-capped at 1M entries
    * (~100 MB): same driver-memory class as the pruning interval map.
    *
    * EVICTION CONTRACT: the only operations that ever delete a pool
    * file are [[expire]] and [[expireOrphans]], and both evict the
    * dropped paths from this cache and the row-count cache
    * ([[evictCaches]]) before returning — so a stale entry for a
    * deleted file cannot exist by construction, not merely because no
    * retained manifest references one. (Tokens are never reused, so a
    * future file can never take a dropped file's path either.) No file
    * status outlives a read: every [[scanVersion]] lists its files into
    * a fresh [[SnapshotFileIndex]] (`FileStatusCache.getOrCreate` hands
    * each build its own namespace), so there is no status cache to
    * evict. */
  private val footerStatsCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, StatsAgg.FileStats](1024, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StatsAgg.FileStats]): Boolean =
        size() > 1000000
    })

  /** [[StatsAgg.harvest]] through the cache: only uncached (file,
    * column) pairs pay a footer read. */
  private[lake] def cachedHarvest(spark: SparkSession, paths: Seq[String],
                            column: String,
                            dt: org.apache.spark.sql.types.DataType): Seq[StatsAgg.FileStats] = {
    def key(p: String) = s"$p|$column"
    val missing = paths.filterNot(p => footerStatsCache.containsKey(key(p)))
    if (missing.nonEmpty)
      StatsAgg.harvest(spark, missing, column, dt)
        .foreach(fs => footerStatsCache.put(key(fs.path), fs))
    // a file whose harvest failed entirely (no FileStats row) maps to a
    // stats-less entry: never pruned, always scanned — sound
    paths.map(p => Option(footerStatsCache.get(key(p)))
      .getOrElse(StatsAgg.FileStats(p, 0L, None, None, None)))
  }

  /** The live files of `snap` whose cached footer [min,max] on `column`
    * may contain one of `keys`; a file without usable stats always may
    * (never silently skipped). Sorted keys + binary search keep the
    * probe at files × log(keys), not files × keys: a large CDC batch
    * against a 100k-file version would otherwise burn the driver. */
  private def filesMayContain(spark: SparkSession, table: String, snap: Snapshot,
                              column: String, keys: Seq[Any]): Seq[String] = {
    val (fs, root) = fsOf(spark, table)
    val abs = qualified(fs, root, snap.files)
    val dt = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType](column).dataType
    val sorted = keys.toArray.sortWith(StatsAgg.cmp(_, _) < 0)
    val keep = cachedHarvest(spark, abs, column, dt).filter { r =>
      (r.min, r.max) match {
        case (Some(mn), Some(mx)) => StatsAgg.anyKeyInRange(sorted, mn, mx)
        case _ => true
      }
    }.map(_.path).toSet
    snap.files.zip(abs).collect { case (f, a) if keep(a) => f }
  }

  // ── reads ────────────────────────────────────────────────────────

  /** Table-relative path of a scanned row's file, recovered from the
    * reader's `_metadata.file_path` URI by anchoring at the LAST
    * `/data/` segment — the table's data root by construction (commit
    * tokens contain no slash, so no deeper `data/` exists). Immune to
    * URI rendering differences (`file:/…` vs `file:///…` vs
    * `hdfs://host/…`): the suffix is identical in all of them, and it
    * is the SAME expression delete-writing and delete-applying use, so
    * the DV keys match by construction. */
  private def relFileCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    regexp_extract(col("_metadata.file_path"), "^.*/(data/.*)$", 1)
  }

  /** The DV rows `(file, pos)` of the DV files `relPaths` (pool-relative).
    * Sound to pool across files: a row is dead for file `f` iff some DV
    * in `f`'s OWN set lists `(f, pos)`, and vector sets only ever grow
    * append-only within a history branch (rollback restores aligned
    * prefixes across every file one commit touched) — so a pooled DV's
    * `f`-rows are in the pool exactly when `f`'s set contains it. */
  private def dvRows(spark: SparkSession, root: Path, relPaths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val paths = relPaths.map(f => new Path(dataRootOf(root), f).toString)
    spark.read.parquet(paths: _*).select(col("file"), col("pos"))
  }

  /** Hard cap on the dead-row map [[deadPositions]] will materialize on
    * the driver. [[maintain]] folds vectors at 1M dead rows, so any
    * well-kept table sits far below this; a table whose vectors grew
    * unbounded (maintenance never ran after an unqualified UPDATE /
    * DELETE trickle) gets a loud refusal instead of a driver OOM. */
  private[lake] val MaxDriverDeadRows = 4000000L

  /** The snapshot's dead positions, collected to the driver as
    * pool-relative file → SORTED position array — the executor-side
    * shape [[SnapshotCatalog]]'s row-based DV fallback scan filters
    * with. Dead-row-sized by the DV contract ([[maintain]] bounds it)
    * and CAPPED at [[MaxDriverDeadRows]]: beyond that the collect is
    * refused with the maintenance pointer — the vectorized read path
    * (`GraftExtensions`' rewrite, or the API's anti-join) never builds
    * this map at all, so only the extension-less SQL fallback can hit
    * the cap. Cached per (table, version): a version's vector set is
    * immutable. Pooling across files is sound for the same reason as
    * [[dvRows]]. */
  private[lake] def deadPositions(spark: SparkSession, root: Path,
                                  snap: Snapshot,
                                  maxRows: Long = MaxDriverDeadRows): Map[String, Array[Long]] = {
    if (snap.dvs.isEmpty) return Map.empty
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(root).toString + "@" + snap.version
    val cached = deadPositionsCache.get(key)
    if (cached != null) return cached
    val rows = dvRows(spark, root, snap.dvs.values.flatten.toSeq.distinct)
      .limit(maxRows.toInt + 1).collect()
    if (rows.length > maxRows) throw new IllegalStateException(
      s"version ${snap.version} of $root carries more than $maxRows " +
        "deletion-vector rows — too many to apply row-based on the driver. " +
        "Run SnapshotLog.purgeDeletes/maintain to fold the vectors, or enable " +
        "spark.sql.extensions=graft.GraftExtensions, whose vectorized rewrite " +
        "applies vectors as a distributed anti-join without this map")
    val out = rows
      .groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(1)).distinct.sorted }
    deadPositionsCache.put(key, out)
    out
  }

  private val deadPositionsCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Map[String, Array[Long]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, Array[Long]]]): Boolean =
        size() > 64
    })

  /** The one scan of a snapshot version's data files (`files`, default
    * every live file of `snap`, all pool-relative): [[read]],
    * [[readPruned]], [[readLineage]], [[readChanges]], the matched-row
    * scans of [[delete]], [[update]] and [[mergeInto]], the rewrites of
    * [[merge]], [[compactBin]] and [[purgeDeletes]], and the SQL
    * catalog's DV-applying read all build their scan here. The files
    * scan through a [[SnapshotFileIndex]] relation, so on every one of
    * those reads a filter prunes files by footer zone maps and Bloom
    * sidecars and pushes into parquet, and a listed file that is
    * missing fails the build instead of reading partial. The version's
    * committed schema is imposed with deep-relaxed nullability, like
    * `DataFrameReader.schema`: a pre-evolution file legitimately lacks a
    * later (null-filled) column, and a non-nullable field would make the
    * vectorized reader refuse it. A scan over zero files is the same
    * relation, empty, with the same schema.
    *
    * Deletion vectors apply merge-on-read: clean files scan untouched,
    * and the dirty files' dead rows are dropped by ONE broadcast
    * anti-join on `(file, _metadata.row_index)`. Sound under pushdown
    * and splits because `_metadata.row_index` is intrinsic to the row
    * (the reader derives it from footer offsets), not a count of
    * delivered rows; the DV side is dead-row-sized ([[maintain]] bounds
    * it), so nothing is shuffled. `positions = true` keeps each row's
    * pool-relative file as `_uf` and its row index as `_up`: the keys a
    * DV row is written with. */
  private[lake] def scanVersion(spark: SparkSession, table: String, snap: Snapshot,
                                files: Option[Seq[String]] = None,
                                positions: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val schema = StructType(DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
      .fields.map(relaxNullability))
    if (positions) Seq("_uf", "_up").foreach(c => require(!schema.fieldNames.contains(c),
      s"input column '$c' clashes with the positional scan columns"))
    val (fs, root) = fsOf(spark, table)
    val (dirty, clean) = files.getOrElse(snap.files).partition(snap.dvs.contains)
    val data = schema.fieldNames.toSeq.map(col)
    def over(part: Seq[String], withPositions: Boolean): DataFrame =
      MetastoreFileIndex.relation(spark,
        new SnapshotFileIndex(spark, qualified(fs, root, part), schema, Some(table)),
        StructType(Nil), schema)
        .select(data ++ (if (withPositions)
          Seq(relFileCol.as("_uf"), col("_metadata.row_index").as("_up")) else Nil): _*)
    val parts = Seq.newBuilder[DataFrame]
    if (clean.nonEmpty || dirty.isEmpty) parts += over(clean, positions)
    if (dirty.nonEmpty) {
      val dv = dvRows(spark, root, dirty.flatMap(snap.dvs).distinct)
      parts += over(dirty, withPositions = true)
        .join(broadcast(dv), col("_uf") === dv("file") && col("_up") === dv("pos"), "left_anti")
        .select(data ++ (if (positions) Seq(col("_uf"), col("_up")) else Nil): _*)
    }
    parts.result().reduce(_ unionByName _)
  }

  /** Read a snapshot (default: head) through [[scanVersion]]. The
    * committed schema of THAT version is imposed on the scan, so time
    * travel returns the table as it was: a column added later does not
    * bleed into old versions, and an empty snapshot still has its
    * schema. Deletion vectors of the version are applied merge-on-read. */
  def read(spark: SparkSession, table: String, asOf: Option[Long] = None): DataFrame =
    scanVersion(spark, table, state(spark, table, asOf))

  /** [[read]] with row-level provenance: every row carries
    * `_commit_version` — the log version whose manifest FIRST added
    * the row's file (for a branch log, the branch-local version; a
    * fork restatement therefore credits v0 of the branch) — and
    * `_source_file`, the pool-relative path. The audit question this
    * answers ("which ingest produced this row, and from which file?")
    * is the reference's batch-provenance story
    * (lakeshack/metastore.py keys stats rows by filepath) promoted to
    * the versioned format.
    *
    * Resolution is bounded by retention: a file whose adding manifest
    * was [[expire]]d resolves to -1 (unknown-before-horizon), never to
    * a wrong version. Cost: the file→version map is one driver-side
    * replay of the retained manifests (O(log size), same class as
    * [[state]]) broadcast into a file-count-sized join — row bytes are
    * untouched, and deletion vectors apply exactly as in [[read]]. */
  def readLineage(spark: SparkSession, table: String,
                  asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val snap = state(spark, table, asOf)
    val (fs, root) = fsOf(spark, table)
    val listing = listLog(fs, root)
    val firstAdd = scala.collection.mutable.LinkedHashMap[String, Long]()
    for (v <- listing.manifests;
         p <- parse(readFile(fs, manifestPath(root, v))))
      p.adds.foreach(f => if (!firstAdd.contains(f)) firstAdd(f) = v)
    val verDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        snap.files.map(f => Row(f, firstAdd.getOrElse(f, -1L))), 1),
      StructType(Seq(StructField("_source_file", StringType),
        StructField("_commit_version", LongType))))
    val names = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType].fieldNames.toSeq
    scanVersion(spark, table, snap, positions = true)
      .withColumnRenamed("_uf", "_source_file")
      .join(broadcast(verDf), "_source_file")
      .select((names :+ "_commit_version" :+ "_source_file").map(col): _*)
  }

  /** An `InMemoryFileIndex` over exactly `paths`, listed once per build
    * (`FileStatusCache.getOrCreate` hands each call a fresh namespace),
    * behind [[MetastoreFileIndex.overStatsFiles]]. A file the listing
    * lacks fails the build ([[SnapshotFileIndex.requireListed]])
    * instead of being skipped. */
  private[lake] def knownFiles(spark: SparkSession, paths: Seq[String],
                               schema: Option[StructType]): InMemoryFileIndex = {
    val idx = new InMemoryFileIndex(spark, paths.map(new Path(_)),
      Map.empty[String, String], schema, FileStatusCache.getOrCreate(spark), None, None)
    SnapshotFileIndex.requireListed(idx, paths)
    idx
  }

  /** Deep nullable relaxation (what DataFrameReader.schema applies). */
  private[lake] def relaxNullability(f: StructField): StructField = {
    import org.apache.spark.sql.types._
    def relax(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(relaxNullability))
      case a: ArrayType => a.copy(elementType = relax(a.elementType), containsNull = true)
      case m: MapType => m.copy(valueType = relax(m.valueType), valueContainsNull = true)
      case other => other
    }
    f.copy(dataType = relax(f.dataType), nullable = true)
  }

  /** Time travel WITH transparent zone-map pruning: [[read]] after
    * harvesting the footer stats of `clusterColumn +: optionalColumns`
    * into the per-file cache up front (O(version files) on first sight,
    * KBs each — never the dead versions'), so queries on those columns
    * plan from cache hits; any other column is harvested the first time
    * a filter names it. The scan is the SQL catalog's, so
    * `readPruned(…).where(f)` and `SELECT … FROM snap.t WHERE f` plan
    * the same files: the [[SnapshotFileIndex]] skips files by their
    * footer [min,max] on every orderable filtered column and by Bloom
    * sidecars on `=`/`IN` over a column with one ([[buildBloom]]). Best
    * after [[compact]] or a clustered write; an unclustered version
    * prunes nothing (sound, just unhelpful). */
  def readPruned(spark: SparkSession, table: String, clusterColumn: String,
                 optionalColumns: Seq[String] = Nil,
                 asOf: Option[Long] = None): DataFrame = {
    val snap = state(spark, table, asOf)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val (fs, root) = fsOf(spark, table)
    // fs-qualified like the index's paths, so the cache keys match
    val abs = qualified(fs, root, snap.files)
    (clusterColumn +: optionalColumns).distinct.filter(schema.fieldNames.contains)
      .foreach(c => cachedHarvest(spark, abs, c, schema(c).dataType))
    scanVersion(spark, table, snap)
  }

  /** Row-level CHANGE FEED: every insert/delete between two versions,
    * tagged `_change_type` ('insert' | 'delete') and `_commit_version`.
    * This is what makes the format a SOURCE for incremental pipelines —
    * a downstream consumer (see [[IncrementalView]]) reprocesses
    * O(changed rows) per refresh instead of re-reading a 100 TB table.
    *
    * Per-commit cost, by op:
    *  - `append`: the added files are scanned once — change volume.
    *  - `delete`: the NEW dead rows are materialized by ONE semi-join
    *    of the affected files against the commit's new DV (broadcast,
    *    positional) — affected-file volume, not table volume.
    *  - `update` ([[update]]) / `merge_into` ([[mergeInto]]): the same
    *    bounded deletes PLUS the commit's added files (updated copies /
    *    merge inserts) as inserts.
    *  - `compact`: no row change by contract (a clustering rewrite).
    *  - `merge`: multiset except-diff over the affected files only
    *    (removed-side read applies the PRIOR version's DVs, so a dead
    *    row is never re-deleted); rows the rewrite carried unchanged
    *    cancel out, so the feed shows exactly the upserted/deleted
    *    rows. Bounded by the merge's own CDC-batch contract.
    *  - `overwrite` / `rollback`: the diff is table-sized, so the feed
    *    REFUSES them unless `allowFullDiff = true` (then: full-snapshot
    *    except-diff, which also accounts for DV restates/un-deletes).
    *    Both sides must share one schema.
    *  - `purge`: no live-row change by contract (merge-on-read fold).
    *  - `publish:<name>` ([[Branches.publish]]): bounded except-diff
    *    over the AFFECTED files only — adds, removes, and DV-restated
    *    survivors, each side with its own version's vectors applied —
    *    so a WAP batch flows through the feed at O(published diff).
    *  - `fork@<v>` (v0 of a branch log): the restated live set, DVs
    *    applied, as inserts — the branch's creating commit.
    *  - any OTHER label ([[write]]'s `opLabel`): classified by shape —
    *    adds-only commits insert their added files; commits with
    *    removes or DV restates are gated behind `allowFullDiff` like
    *    `overwrite`. An unknown op is never silently skipped.
    *
    * `fromVersion` is EXCLUSIVE (pass -1 to include the creating
    * commit), `toVersion` inclusive (default: head). Rows from
    * pre-evolution versions are null-filled to the `toVersion` schema. */
  def readChanges(spark: SparkSession, table: String, fromVersion: Long,
                  toVersion: Option[Long] = None,
                  allowFullDiff: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val (fs, root) = fsOf(spark, table)
    val head = currentVersion(spark, table)
    val to = toVersion.getOrElse(head)
    require(fromVersion >= -1 && fromVersion <= to && to <= head,
      s"bad change range ($fromVersion, $to] for $table at v$head")
    val outSchema = DataType.fromJson(state(spark, table, Some(to)).schemaJson)
      .asInstanceOf[StructType]
    val outFields = outSchema.fields.toSeq

    /** Null-fill `df` to the output schema (shared by the tag step and
      * the except-diffs, whose two sides may sit on different commit
      * schemas after an evolution). */
    def align(df: DataFrame): DataFrame =
      df.select(outFields.map(f =>
          if (df.columns.contains(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*)

    /** Null-fill `df` to the output schema, then tag it. */
    def conform(df: DataFrame, tpe: String, v: Long): DataFrame =
      align(df)
        .withColumn("_change_type", lit(tpe))
        .withColumn("_commit_version", lit(v))

    // v0 has no predecessor: an empty snapshot stands in (creation)
    def prevState(v: Long): Snapshot =
      if (v == 0) Snapshot(-1L, Nil, "{}") else state(spark, table, Some(v - 1))

    val parts = Seq.newBuilder[DataFrame]

    /** BOTH multiset differences in ONE aggregation —
      * `(after ∖ before, before ∖ after)` with exceptAll's exact
      * semantics (positional columns, null-equal grouping, rows
      * replicated by multiplicity). The two-exceptAll form evaluated
      * EACH side's subtree twice (each exceptAll unions both inputs),
      * so a merge diff read its affected files four times; this reads
      * each side once and signs the counts. Multiplicities materialize
      * as a sequence array per distinct row — fine for row-level
      * feeds, where whole-row duplicate counts are small. */
    def diffParts(after: DataFrame, before: DataFrame, v: Long): Unit = {
      import org.apache.spark.sql.functions.{col, explode, lit, sequence, sum}
      val names = after.columns.toSeq
      val tagged = after.withColumn("_vc", lit(1L))
        .union(before.withColumn("_vc", lit(-1L)))
      val d = tagged.groupBy(names.map(col): _*).agg(sum(col("_vc")).as("_d"))
      def side(keep: org.apache.spark.sql.Column,
               times: org.apache.spark.sql.Column) = d.where(keep)
        .withColumn("_r", explode(sequence(lit(1L), times)))
        .select(names.map(col): _*)
      parts += conform(side(col("_d") > 0, col("_d")), "insert", v)
      parts += conform(side(col("_d") < 0, -col("_d")), "delete", v)
    }
    for (v <- (fromVersion + 1) to to) {
      val p = parse(readFile(fs, manifestPath(root, v))).getOrElse(
        throw new IllegalStateException(s"torn manifest v$v in $table"))
      val schemaV = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
      def readAdds(): DataFrame = scanVersion(spark, table, Snapshot(v, p.adds, p.schemaJson))
      p.entry.op match {
        case "append" =>
          if (p.adds.nonEmpty) parts += conform(readAdds(), "insert", v)
        case op @ ("delete" | "update" | "merge_into") =>
          // delete: the NEW dead rows only. update/merge_into: ONE
          // atomic commit = those deletes PLUS the updated copies /
          // inserts as added files — all bounded by affected-file
          // volume, never the table, so incremental views maintain
          // straight through SQL UPDATE and MERGE INTO
          val prev = prevState(v)
          val priorDv = prev.dvs.values.flatten.toSet
          val newDv = p.dvSets.flatMap(_._2).distinct.filterNot(priorDv)
          val grown = p.dvSets.collect {
            case (f, set) if set != prev.dvs.getOrElse(f, Nil) => f
          }
          if (newDv.nonEmpty && grown.nonEmpty) {
            val dvNew = dvRows(spark, root, newDv)
            val dead = scanVersion(spark, table, Snapshot(v, grown, p.schemaJson), positions = true)
              .join(broadcast(dvNew), col("_uf") === dvNew("file") && col("_up") === dvNew("pos"),
                "left_semi")
              .select(schemaV.fieldNames.map(col): _*)
            parts += conform(dead, "delete", v)
          }
          if (op != "delete" && p.adds.nonEmpty)
            parts += conform(readAdds(), "insert", v)
        case "compact" => // clustering rewrite: same rows by contract
        case "purge" => // merge-on-read fold: same live rows by contract
        case op if op.startsWith("fork@") =>
          // branch-creating commit (v0 of a branch log): the restated
          // live set with its DVs applied IS the insert set — reachable
          // only via fromVersion = -1 on a branch, i.e. the consumer
          // asked for the creation
          parts += conform(scanVersion(spark, table, state(spark, table, Some(v))), "insert", v)
        case op if op.startsWith("publish:") =>
          // WAP fast-forward (Branches.publish): ONE main commit carrying
          // a branch's net diff — adds, removes, AND DV restates on
          // surviving files. Bounded except-diff over the AFFECTED files
          // only, each side reading its own version's DVs, so new dead
          // rows surface as deletes and un-deletes as inserts. Cost is
          // O(published diff), never O(table).
          val prev = prevState(v)
          val cur = state(spark, table, Some(v))
          val prevSet = prev.files.toSet; val curSet = cur.files.toSet
          val restated = p.dvSets.map(_._1)
          val prevAffected = (p.removes ++ restated.filter(prevSet)).distinct
          val curAffected = (p.adds ++ restated.filter(curSet)).distinct
          val before = align(scanVersion(spark, table, prev, Some(prevAffected)))
          val after = align(scanVersion(spark, table, cur, Some(curAffected)))
          diffParts(after, before, v)
        case op @ ("merge" | "overwrite" | "rollback") =>
          val prev = prevState(v)
          // a merge with no affected files (pure upsert of absent keys)
          // or the table-creating overwrite: inserts, nothing diffed
          val isCreate = p.removes.isEmpty && (op == "merge" || prev.files.isEmpty)
          if (isCreate) {
            if (p.adds.nonEmpty) parts += conform(readAdds(), "insert", v)
          } else if (op == "merge") {
            // affected files only: removed side with prior DVs applied
            val removed = scanVersion(spark, table, prev, Some(p.removes))
            val added = readAdds()
            diffParts(added, removed, v)
          } else {
            require(allowFullDiff,
              s"v$v is a table-sized '$op' — the row diff is O(table); pass " +
                "allowFullDiff = true to compute it anyway, or restart the " +
                "consumer from a full read of the new version")
            val curSnap = state(spark, table, Some(v))
            require(curSnap.schemaJson == prev.schemaJson,
              s"full diff across a schema change at v$v is not supported")
            val before = scanVersion(spark, table, prev)
            val after = scanVersion(spark, table, curSnap)
            diffParts(after, before, v)
          }
        case other =>
          // A label [[write]]'s opLabel put on the commit (e.g. the
          // view cursors 'mv:…'/'mvj:…'). File semantics are the mode's
          // by contract, so classify by SHAPE — never silently claim
          // "no row change" for an op we don't know:
          //  - adds-only (append-shaped): the added files are exactly
          //    the new rows;
          //  - anything with removes or DV restates (overwrite-shaped):
          //    a full-snapshot except-diff, gated like 'overwrite'.
          if (p.removes.isEmpty && p.dvSets.isEmpty) {
            if (p.adds.nonEmpty) parts += conform(readAdds(), "insert", v)
          } else {
            require(allowFullDiff,
              s"v$v carries op '$other' with removes/DV restates — the row " +
                "diff cannot be bounded; pass allowFullDiff = true for a " +
                "full-snapshot except-diff, or restart the consumer from a " +
                "full read of the new version")
            val prev = prevState(v)
            val curSnap = state(spark, table, Some(v))
            val before = align(scanVersion(spark, table, prev))
            val after = align(scanVersion(spark, table, curSnap))
            diffParts(after, before, v)
          }
      }
    }
    val changeSchema = StructType(outFields :+
      StructField("_change_type", StringType, nullable = false) :+
      StructField("_commit_version", LongType, nullable = false))
    parts.result() match {
      case Seq() => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], changeSchema)
      case ps => ps.reduce(_ unionByName _)
    }
  }

  /** Commit history, newest first: (version, ts_millis, op, n_adds,
    * n_removes, rollback_of). Driver-built: the log is O(commits),
    * the same class as the file listing. */
  def history(spark: SparkSession, table: String): DataFrame = {
    val (fs, root) = fsOf(spark, table)
    val rows = listLog(fs, root).manifests.flatMap { v =>
      parse(readFile(fs, manifestPath(root, v))).map { p =>
        Row(p.entry.version, p.entry.tsMillis, p.entry.op,
          p.entry.nAdds.toLong, p.entry.nRemoves.toLong,
          p.entry.rollbackOf.map(Long.box).orNull)
      }
    }.reverse
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("ts_millis", LongType, nullable = false),
        StructField("op", StringType, nullable = false),
        StructField("n_adds", LongType, nullable = false),
        StructField("n_removes", LongType, nullable = false),
        StructField("rollback_of", LongType, nullable = true))))
  }

  // ── retention ────────────────────────────────────────────────────

  /** Drop history older than the last `keepLast` versions and delete
    * the data files only they referenced. A checkpoint is first
    * written AT the new horizon so every retained version still
    * resolves without the dropped manifests. Files referenced by ANY
    * retained version survive. Throws `ConcurrentModificationException`
    * if a commit lands while expiring (single-maintainer, like
    * compaction).
    *
    * Crash mid-expire is safe for every RETAINED version (their files
    * are never in the delete set and the horizon checkpoint lands
    * before any delete); an expiring-version manifest that outlives a
    * crash may reference already-deleted files — its reads fail at
    * scan time, never silently partial — and re-running the same
    * `expire` completes the cleanup. */
  def expire(spark: SparkSession, table: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val (fs, root) = fsOf(spark, table)
    require(!isBranchRoot(root),
      s"run retention on the table root, not branch $table — the data " +
        "pool is shared and a branch-scoped expire would delete files " +
        "other refs still reference")
    val head = currentVersion(spark, table)
    val listing = listLog(fs, root)
    // a TAGGED version must stay time-travelable: retention never drops
    // below the oldest tag (contiguous retention keeps replay sound —
    // dropping an interior tagged version would need per-tag
    // checkpoints; refusing is simpler and what the tag promises)
    val tagFloor = Branches.tagVersions(spark, table).values
      .foldLeft(Long.MaxValue)(math.min)
    val retained = listing.manifests
      .filter(v => v > head - keepLast || v >= tagFloor)
    if (retained.isEmpty || retained.head == listing.manifests.head) return Nil
    val horizon = retained.head

    // checkpoint exactly AT the horizon: replaying any retained version
    // must never need a dropped manifest, and the horizon version itself
    // retains no manifests below it. A checkpoint WITHOUT the cumulative
    // token set (written before token indexing existed) counts as
    // MISSING here: dropping manifests below it would lose their batch
    // tokens forever and reopen appendBatch's replay/double-commit hole
    // on upgraded logs — so it is rewritten (delete + reclaim) with the
    // token set computed while every manifest still exists. Readers are
    // never hurt by the gap between delete and reclaim: a missing
    // checkpoint just falls back to manifest replay, and no manifest is
    // deleted until the token-carrying checkpoint is in place.
    val horizonCp = listing.checkpoints.find(_ == horizon)
      .flatMap(v => parse(readFile(fs, checkpointPath(root, v))))
    if (!horizonCp.exists(_.tokensKnown)) {
      val snap = state(spark, table, Some(horizon))
      // cumulative token set rides the horizon checkpoint so
      // appendBatch's exactly-once skip survives the manifest drop
      // below — a replayed pre-horizon batch must still be a no-op
      val tokens = tokenSetAt(fs, root, Some(horizon)).toSeq.sorted
      if (horizonCp.isDefined) fs.delete(checkpointPath(root, horizon), false)
      val e = Entry(horizon, System.currentTimeMillis(), "checkpoint",
        snap.files.size, 0, None)
      require(tryClaim(fs, checkpointPath(root, horizon),
        render(e, snap.schemaJson, snap.files, Nil, snap.dvs.toSeq,
          tokens = Some(tokens))),
        s"could not write the horizon checkpoint v$horizon for $table — " +
          "refusing to drop manifests whose tokens it must carry")
    }

    def allFiles(s: Snapshot): Seq[String] = s.files ++ s.dvs.values.flatten
    // files any BRANCH references survive main retention: a branch
    // forked from an old version keeps reading its fork state even
    // after main's manifests for that version are gone (the fork
    // commit is self-contained)
    val keepFiles = retained.flatMap(v => allFiles(state(spark, table, Some(v)))).toSet ++
      branchReferencedFiles(fs, root)
    val dropFiles = listing.manifests.filter(_ < horizon)
      .flatMap(v => allFiles(state(spark, table, Some(v))))
      .distinct.filterNot(keepFiles)

    if (currentVersion(spark, table) != head)
      throw new java.util.ConcurrentModificationException(
        s"$table advanced past v$head while expiring — re-run")

    dropFiles.foreach(f => fs.delete(new Path(root, f), false))
    listing.manifests.filter(_ < horizon).foreach(v => fs.delete(manifestPath(root, v), false))
    listing.checkpoints.filter(_ < horizon).foreach(v => fs.delete(checkpointPath(root, v), false))
    if (dropFiles.nonEmpty)
      evictCaches(qualified(fs, root, dropFiles).toSet)
    dropFiles
  }

  /** Drop every cached fact about the (just deleted) pool files — the
    * eviction half of the footer-stats cache's contract: each entry of
    * the per-file caches whose absolute file path `dropped` holds. */
  private def evictCaches(dropped: String => Boolean): Unit = {
    def evict[V](m: java.util.Map[String, V], pathOf: String => String): Unit =
      m.synchronized {
        val it = m.keySet.iterator()
        while (it.hasNext) if (dropped(pathOf(it.next()))) it.remove()
      }
    evict(footerStatsCache, _.takeWhile(_ != '|'))
    evict(footerRowCountCache, identity)
  }

  /** Every pool-relative file path any live branch's log references
    * (adds, removes, and DV files of every branch manifest). Retention
    * on the main table must treat these as live. */
  private def branchReferencedFiles(fs: FileSystem, root: Path): Set[String] = {
    val bdir = new Path(root, Branches.BranchesDir)
    if (!fs.exists(bdir)) return Set.empty
    fs.listStatus(bdir).iterator.filter(_.isDirectory).flatMap { st =>
      val broot = st.getPath
      listLog(fs, broot).manifests.flatMap(v =>
        parse(readFile(fs, manifestPath(broot, v))).toSeq
          .flatMap(p => p.adds ++ p.removes ++ p.dvFiles))
    }.toSet
  }

  /** Reclaim token dirs no manifest (in any retained version) ever
    * references and that are older than `graceMs` — the stranded output
    * of writers that died before their commit. Grace must exceed the
    * longest write-to-commit gap, same rule as [[Vacuum]]. */
  def expireOrphans(spark: SparkSession, table: String, graceMs: Long): Seq[String] = {
    val (fs, root) = fsOf(spark, table)
    require(!isBranchRoot(root),
      s"run orphan reclamation on the table root, not branch $table")
    val dataDir = new Path(root, "data")
    if (!fs.exists(dataDir)) return Nil
    val listing = listLog(fs, root)
    // every token referenced by any manifest, committed or torn — a torn
    // head manifest's token may be about to be re-claimed; grace covers
    // it. Branch manifests count: an unpublished branch's appends live
    // in the shared pool referenced by the branch log alone.
    val referenced: Set[String] = (listing.manifests.flatMap { v =>
      parse(readFile(fs, manifestPath(root, v))).toSeq
        .flatMap(p => p.adds ++ p.removes ++ p.dvFiles)
    } ++ branchReferencedFiles(fs, root)).map(_.split('/') match {
      case Array("data", tok, _*) => tok
      case _ => ""
    }).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val dropped = Seq.newBuilder[String]
    for (st <- fs.listStatus(dataDir) if st.isDirectory) {
      val tok = st.getPath.getName
      if (!referenced.contains(tok) && st.getModificationTime < cutoff) {
        fs.delete(st.getPath, true)
        dropped += st.getPath.toString
      }
    }
    val out = dropped.result()
    // same eviction contract as expire — a reclaimed token dir's files
    // must not survive in any per-file cache (prefix match: the caches
    // key by absolute file path, all under the deleted dir)
    val prefixes = out.map(d => fs.makeQualified(new Path(d)).toString + "/")
    if (out.nonEmpty) evictCaches(p => prefixes.exists(p.startsWith))
    out
  }
}
