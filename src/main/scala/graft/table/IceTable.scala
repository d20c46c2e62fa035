package graft.table

import graft.model._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Minimal snapshot/manifest table layer ("IceTable") over Parquet.
 *
 * No Iceberg/Delta jar exists in this environment (SURVEY.md §7.0), so the
 * engine re-creates, from scratch and Spark-first, exactly the semantics the
 * reference builds on Iceberg (IcebergMetadataWriter.flush,
 * gobblin-iceberg/.../writer/IcebergMetadataWriter.java:834-905):
 *
 *  - A table is a directory; readable state is defined ONLY by the manifest
 *    the current snapshot references. Data files not listed in the current
 *    manifest are invisible — so a crash after data-file write but before
 *    manifest commit leaves orphans that are simply ignored on replay.
 *  - All metadata and data IO goes through Hadoop `FileSystem`, so the table
 *    can live on any supported durable store (`file://`, `hdfs://`,
 *    `s3a://`, custom schemes) — the same abstraction the reference's state
 *    store and writers use (gobblin-metastore/.../FsStateStore.java:65;
 *    gobblin-core/.../writer/FsDataWriter.java:58).
 *  - Commit = write `snap-<version>.json` to a temp name, then RENAME
 *    WITHOUT OVERWRITE to its final name. On HDFS-like stores that rename is
 *    atomic and fails when the destination exists, so it doubles as the
 *    compare-and-swap: of two racing writers committing the same version,
 *    exactly one wins and the loser gets an error instead of clobbering
 *    (the reference's FsStateStore.put tmp+rename pattern,
 *    gobblin-metastore/.../FsStateStore.java:156-178, hardened to CAS).
 *    The current version IS the largest committed snapshot file — no
 *    mutable pointer file exists, so there is nothing to torn-write.
 *  - The manifest carries committed per-partition offset ranges — the replay
 *    fence that makes epoch application idempotent (the `mergeOffsets`
 *    pattern, IcebergMetadataWriter.java:385-435).
 *  - Rows are hash-bucketed by key `(repo, path)`. Copy-on-write MERGE
 *    rewrites only the buckets an epoch touches; untouched buckets' files are
 *    carried forward by reference. At cluster scale the bucket count bounds
 *    both merge-join width and rewrite amplification.
 *  - Data files are written to a STAGING dir and published into the data
 *    layout by per-file rename (the reference's staging→output atomic
 *    publish, gobblin-core/.../publisher/BaseDataPublisher.java semantics):
 *    a crash mid-publish leaves unreferenced files only.
 *
 * Layout:
 * {{{
 *   <dir>/data/bucket=<b>/e<epochId>-part-*.parquet
 *   <dir>/staging/e<epochId>-<nonce>/bucket=<b>/part-*.parquet  (transient)
 *   <dir>/meta/snap-<version>.json
 *   <dir>/meta/fseg-<contenthash>.json   (file-list segments; only for
 *                                         manifests past inlineFileThreshold)
 * }}}
 *
 * The single-level `data/bucket=<b>/` partition layout keeps Spark's
 * partition-column inference consistent for ANY subset of manifest files
 * (files from different epochs share one directory structure), and gives
 * partition pruning on `bucket` for free.
 */
final class IceTable(val dir: String, val defaultNumBuckets: Int,
                     // file lists LARGER than this split out of the snapshot
                     // json into content-addressed segment files (two-level
                     // metadata; see EpochManifest.fileSegs)
                     val inlineFileThreshold: Int = 1024,
                     // buckets per file-list segment chunk: bounds a chunk's
                     // rewrite scope — a commit rewrites only segments whose
                     // bucket range it touched
                     val segChunkBuckets: Int = 128) {
  private val root = new HPath(dir)

  /** Bucket count of the CURRENT snapshot's data layout: recorded per
    * manifest (so `Rebucket` can migrate a table that outgrew its width —
    * the partition-spec-evolution analog, IcebergMetadataWriter.java:
    * 507-524); legacy/empty tables fall back to the construction default.
    * Epoch-scoped callers (MergeEngine) resolve this ONCE from the parent
    * manifest they already hold instead of re-listing here.
    *
    * CACHED per handle: the first resolution (one header read, zero segment
    * IO) is remembered and refreshed by every commit() / currentManifest()
    * through this handle — without the cache the bucketCol/bucketOf DEFAULTS
    * turned a cheap expression builder into a metadata listing + manifest
    * read per call (repeated remote LISTs on object stores). A REBUCKET by a
    * DIFFERENT process is picked up at the next currentManifest()/commit;
    * same-process callers always observe their own commits (the epoch path
    * re-reads the parent manifest every epoch regardless). */
  def numBuckets: Int = {
    val c = cachedBucketCount
    if (c > 0) c
    else {
      val v = currentVersion()
      // an EMPTY table's default is NOT cached: another process may create
      // the table with a different width before this handle's first commit,
      // and a cached default would mis-route bucketOf/bucketCol forever
      if (v < 0) defaultNumBuckets
      else {
        val n = bucketCountOf(Some(readManifestHeader(v)))
        cachedBucketCount = n
        n
      }
    }
  }
  @volatile private var cachedBucketCount: Int = -1

  /** fault-injection seam for specs (see [[commit]]); no-op in production */
  private[graft] var onBeforeSnapshotCas: () => Unit = () => ()

  def bucketCountOf(m: Option[graft.model.EpochManifest]): Int =
    m.map(_.numBuckets).filter(_ > 0).getOrElse(defaultNumBuckets)
  private def metaDir = new HPath(root, "meta")
  private def dataDir = new HPath(root, "data")
  private def stagingDir = new HPath(root, "staging")

  /** Hadoop conf: the active Spark session's (so `spark.hadoop.*` and
    * runtime-registered filesystems apply), else vanilla. */
  private def hconf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration()) // spark.hadoop.* even off-thread
  private def fs: FileSystem = root.getFileSystem(hconf)

  def init(): this.type = {
    val f = fs
    f.mkdirs(metaDir)
    f.mkdirs(dataDir)
    this
  }

  // ---- snapshot / manifest IO --------------------------------------------

  // %08d pads to AT LEAST 8 digits — match 8+, or versions past 1e8 would
  // become invisible to currentVersion
  private val SnapName = """snap-(\d{8,})\.json""".r

  /** all committed snapshot versions, one metadata listing */
  private def listVersions(): Seq[Long] = {
    val f = fs
    if (!f.exists(metaDir)) return Seq.empty
    f.listStatus(metaDir).iterator.map(_.getPath.getName).collect {
      case SnapName(v) => v.toLong
    }.toSeq.sorted
  }

  /** Current version = largest committed snapshot file (rename-published, so
    * a listed snap is always complete). -1 when the table is empty. */
  def currentVersion(): Long = listVersions().foldLeft(-1L)(math.max)

  def currentManifest(): Option[EpochManifest] = {
    val v = currentVersion()
    if (v < 0) None
    else {
      val m = readManifest(v)
      cachedBucketCount = bucketCountOf(Some(m))
      Some(m)
    }
  }

  private def snapPath(version: Long): HPath =
    new HPath(metaDir, f"snap-$version%08d.json")

  private def readUtf8(p: HPath): String = FsIO.readUtf8(fs, p)

  /** Parse a snapshot's json WITHOUT resolving file-list segments: header
    * fields only (commit time, offsets, stats, schema/bucket ids, segment
    * refs, file count/bytes). For an inline manifest this IS the full
    * manifest; for a segmented one `files` is empty — use [[readManifest]]
    * when the file list itself is needed. Metadata questions (history, time
    * travel resolution, retention policy evaluation) go through THIS path:
    * resolving every version's segments would be O(versions × files) driver
    * IO for answers the snapshot json already carries. */
  def readManifestHeader(version: Long): EpochManifest =
    ManifestJson.parse(readUtf8(snapPath(version)))

  /** Read a snapshot manifest, RESOLVING two-level metadata: a segmented
    * manifest's file list is re-assembled from its content-addressed
    * segment files (chunked by bucket range, each internally sorted, so
    * the resolved list is globally (bucket, path)-sorted). The in-memory
    * manifest keeps `fileSegs` populated — retention refcounts them. */
  def readManifest(version: Long): EpochManifest =
    resolveFiles(readManifestHeader(version))

  private def resolveFiles(m: EpochManifest): EpochManifest =
    if (m.fileSegs.isEmpty) m
    else m.copy(files =
      m.fileSegs.flatMap(p => ManifestJson.parseFiles(readUtf8(new HPath(p)))))

  /** Resolve ONE content-addressed file-list segment. Used by the change
    * feed's admission walk to diff successive manifests at the CHUNK level
    * (identical chunk path ⇒ identical file list ⇒ no net-new files) —
    * O(changed chunks), never O(table files). */
  private[graft] def readSegFiles(path: String): Seq[DataFileEntry] =
    ManifestJson.parseFiles(readUtf8(new HPath(path)))

  /** Publish one content-addressed file-list segment (write-if-absent:
    * identical content hashes to the identical path, so a chunk no commit
    * changed costs ZERO metadata writes — the O(touched) commit property).
    * Entries must arrive sorted (canonical bytes). */
  private def writeFileSeg(f: FileSystem, entries: Seq[DataFileEntry]): String = {
    val body = ManifestJson.writeFiles(entries).getBytes("UTF-8")
    // FULL sha256 in the name: write-if-absent content addressing means a
    // name collision between different chunks would silently serve another
    // chunk's file list — at millions of retained segments a truncated hash
    // has real birthday risk; 64 hex chars of path cost nothing next to that
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(body).map(b => f"$b%02x").mkString
    val dest = new HPath(metaDir, s"fseg-$sha.json")
    if (!f.exists(dest)) {
      val tmp = new HPath(metaDir, s".fseg-$sha-${System.nanoTime()}.tmp")
      val out = f.create(tmp, false)
      try out.write(body) finally out.close()
      // a concurrent writer landing the same content first is a win, not a
      // conflict — same bytes, same path
      if (!renameNoReplace(f, tmp, dest)) {
        f.delete(tmp, false)
        if (!f.exists(dest))
          throw new IllegalStateException(s"segment publish failed: $dest")
      }
    } else {
      // ADOPTING an existing segment (a crashed commit's strand, or a chunk
      // an older snapshot once referenced): refresh its mtime so the orphan
      // sweep's grace window restarts — without the touch, an adopted
      // segment can look hours-old and unreferenced to a sweep whose
      // listing predates this commit's CAS, and get deleted out from under
      // the NEW snapshot. Best-effort (not every scheme supports setTimes);
      // commit() re-verifies referenced segments after the CAS regardless.
      try f.setTimes(dest, System.currentTimeMillis(), -1L)
      catch { case _: Exception => () }
    }
    dest.toString
  }

  /** Atomically commit `m` as the new current snapshot. The rename-without-
    * overwrite of the snapshot file is the CAS: a racing writer that planned
    * against the same parent fails here instead of clobbering.
    *
    * `FileSystem.rename` is NOT a safe CAS everywhere: on Raw/LocalFileSystem
    * it maps to POSIX rename(2), which silently REPLACES an existing
    * destination — two racing writers would both "win" and one snapshot
    * would be clobbered. Per scheme:
    *  - `file://`: publish via `Files.createLink` — POSIX link(2) is atomic
    *    and fails with EEXIST when the destination exists, a TRUE local CAS
    *    (FileContext's local rename is only a non-atomic existence check in
    *    front of rename(2)).
    *  - schemes with an `AbstractFileSystem` binding (hdfs:// etc.):
    *    `FileContext.rename(src, dst, Options.Rename.NONE)` — atomic
    *    fail-on-existing at the namenode on HDFS-like stores.
    *  - other schemes: best-effort exists-check + rename; the window cannot
    *    be fully eliminated there and the `parentVersion` precondition is
    *    the practical protection. */
  /** Returns the COMMITTED manifest (the caller's `m` with the commit time
    * stamped) — callers must hold on to the return value, not `m`, so
    * in-memory state never diverges from the snapshot on disk. */
  def commit(m: EpochManifest): EpochManifest = {
    val f = fs
    val cur = currentVersion()
    require(m.parentVersion == cur,
      s"concurrent writer detected: parent=${m.parentVersion} current=$cur")
    require(m.version == cur + 1, s"version must be ${cur + 1}, got ${m.version}")
    // stamp the wall-clock commit time at publish — unconditionally, so a
    // manifest built by copy() from its parent cannot inherit the parent's
    // time (time-based retention reads this, never fs mtimes) — plus the
    // header-level file-list summary (count/bytes) so history() and
    // retention never need to resolve segments for metadata questions
    val stamped = m.copy(commitTimeMillis = System.currentTimeMillis(),
      fileCount = m.files.size,
      dataBytes = m.files.map(f => math.max(0L, f.bytes)).sum)
    // TWO-LEVEL METADATA: a large file list is stored as content-addressed
    // bucket-range segments; only segments whose chunk CHANGED since the
    // parent get written (identical content ⇒ identical path ⇒ skipped),
    // so commit metadata IO is O(touched buckets) at any table size.
    // Incoming fileSegs are always ignored and re-derived from `files` —
    // a parent.copy(...) can never smuggle stale references in.
    val segChunks: Seq[(String, Seq[DataFileEntry])] =
      if (stamped.files.size <= inlineFileThreshold) Nil
      else stamped.files
        .sortBy(e => (e.bucket, e.path))
        .groupBy(_.bucket / segChunkBuckets).toSeq.sortBy(_._1)
        .map { case (_, chunk) =>
          val sorted = chunk.sortBy(e => (e.bucket, e.path))
          writeFileSeg(f, sorted) -> sorted
        }
    val stored =
      if (segChunks.isEmpty) stamped.copy(fileSegs = Nil)
      else stamped.copy(files = Nil, fileSegs = segChunks.map(_._1))
    // test seam: lets specs deterministically interleave a concurrent
    // winner INSIDE the race window (segments published, snapshot not yet
    // CAS'd) — the window that strands fseg files for the orphan sweep
    onBeforeSnapshotCas()
    val tmp = new HPath(metaDir,
      f".snap-${m.version}%08d-${System.nanoTime()}%d.json.tmp")
    val out = f.create(tmp, false)
    try out.write(ManifestJson.write(stored).getBytes("UTF-8")) finally out.close()
    if (!renameNoReplace(f, tmp, snapPath(m.version))) {
      f.delete(tmp, false)
      throw new IllegalArgumentException(
        s"concurrent writer detected: snapshot ${m.version} already committed")
    }
    cachedBucketCount = bucketCountOf(Some(stored))
    // POST-CAS segment re-verify: a concurrent orphan sweep whose listing
    // predates this CAS could have deleted an ADOPTED (pre-existing,
    // stale-mtime) segment between our reuse check and the snapshot rename.
    // The snapshot is listed now, so re-publishing the missing chunk
    // (content-addressed: same bytes, same path) permanently heals the
    // race; any sweep listing from here on sees the reference.
    segChunks.foreach { case (p, chunk) =>
      if (!f.exists(new HPath(p))) {
        System.err.println(s"[graft] referenced segment vanished during " +
          s"commit (concurrent orphan sweep?): $p — re-publishing")
        writeFileSeg(f, chunk)
      }
    }
    // return the RESOLVED shape (files populated + segment refs), matching
    // what readManifest of this version yields
    stored.copy(files =
      if (stored.fileSegs.isEmpty) stamped.files
      else stamped.files.sortBy(e => (e.bucket, e.path)))
  }

  /** publish `src` at `dst` failing (false) when the destination exists —
    * the strongest no-overwrite primitive each scheme offers (see
    * [[commit]]); shared with [[GraftCatalog]] via [[AtomicRename]]. */
  private def renameNoReplace(f: FileSystem, src: HPath, dst: HPath): Boolean =
    AtomicRename.renameNoReplace(f, src, dst)

  // ---- reads --------------------------------------------------------------

  /** Current table state as the USER view: tombstones filtered, physical
    * columns (bucket, lastSeq, deleted) dropped, projected to the snapshot's
    * current schema. Only manifest-listed files are read; files written
    * under an older schema are evolved at read time by column-id projection
    * (no rewrite). */
  def read(spark: SparkSession): DataFrame =
    readRaw(spark)
      .filter(!coalesce(col("deleted"), lit(false)))
      .drop("bucket", "lastSeq", "deleted")

  /** Raw view incl. physical columns and tombstones (merge/maintenance). */
  def readRaw(spark: SparkSession): DataFrame = currentManifest() match {
    case None => emptyDf(spark)
    case Some(m) => readFiles(spark, m.files, m.schemaId)
  }

  /** Time travel: the user view AS OF an older snapshot version. Snapshot
    * isolation falls out of immutability — a manifest's file list never
    * changes, so concurrent readers of any version are unaffected by
    * ongoing commits. */
  def readAt(spark: SparkSession, version: Long): DataFrame = {
    val m = readManifest(version)
    readFiles(spark, m.files, m.schemaId)
      .filter(!coalesce(col("deleted"), lit(false)))
      .drop("bucket", "lastSeq", "deleted")
  }

  /** One row per retained snapshot (oldest first) — the table-history
    * surface an operator reads before time travel or retention. */
  final case class SnapshotInfo(version: Long, epochId: Long,
      commitTimeMillis: Long, schemaId: Int, numBuckets: Int,
      files: Int, bytes: Long, rowsApplied: Long, completeUntilSeq: Long)

  def history(): Seq[SnapshotInfo] =
    listVersions().map { v =>
      // header-only: a metadata question must not resolve segment files
      // (O(versions × files) driver IO on a long-history segmented table).
      // LEGACY exception: a pre-stamping SEGMENTED manifest (fileCount=-1,
      // fileSegs set) carries no summary and an empty inline `files` — for
      // those versions only, resolve the segments rather than reporting
      // zeros (old snapshots heal to stamped headers as retention expires
      // them; every new commit stamps the summary).
      val h = readManifestHeader(v)
      val m = if (h.fileCount < 0 && h.fileSegs.nonEmpty) resolveFiles(h)
              else h
      SnapshotInfo(m.version, m.epochId, m.commitTimeMillis, m.schemaId,
        bucketCountOf(Some(m)),
        if (m.fileCount >= 0) m.fileCount else m.files.size,
        if (m.dataBytes >= 0) m.dataBytes
        else m.files.map(f => math.max(0L, f.bytes)).sum,
        m.stats.rowsApplied, m.completeUntilSeq)
    }

  /** Largest retained version committed at or before `timestampMillis`
    * (commit times are manifest-stamped and monotone). Header-only reads —
    * no segment resolution. A LEGACY unstamped snapshot has no recorded
    * time, and treating it as infinitely old could serve wrong-era data (it
    * may actually postdate the request); instead it is bounded by the
    * EARLIEST STAMPED SUCCESSOR's time (it was certainly committed before
    * that successor) and is eligible only when that bound ≤ the request —
    * with no stamped successor its commit time is unknowable and it is
    * never eligible for timestamp travel (version travel via [[readAt]]
    * still works). None when no retained snapshot qualifies. */
  def versionAsOf(timestampMillis: Long): Option[Long] = {
    val stamps = listVersions().map(v =>
      v -> readManifestHeader(v).commitTimeMillis)
    val effective = stamps.zipWithIndex.map { case ((v, t), i) =>
      v -> (if (t >= 0) t
            else stamps.drop(i + 1)
              .collectFirst { case (_, st) if st >= 0 => st }
              .getOrElse(Long.MaxValue))
    }
    effective.collect { case (v, t) if t <= timestampMillis => v }.maxOption
  }

  /** Time travel by WALL CLOCK: the user view as of the newest snapshot
    * committed at or before `timestampMillis` (Iceberg's as-of-timestamp
    * read, driven by the manifest-stamped commit times). */
  def readAsOfTime(spark: SparkSession, timestampMillis: Long): DataFrame =
    versionAsOf(timestampMillis) match {
      case Some(v) => readAt(spark, v)
      case None => throw new IllegalArgumentException(
        s"no snapshot committed at or before $timestampMillis " +
          s"(earliest retained: ${history().headOption})")
    }

  /** Driver-side replica of Spark's `xxhash64(repo, path)` fold (seed 42,
    * each column hashed over its UTF-8 bytes with the running hash as
    * seed) — lets the lookup path compute a key's bucket without a Spark
    * job. Cross-checked against [[bucketCol]] by spec. */
  def bucketOf(repo: String, path: String, nBuckets: Int = -1): Int = {
    val n = if (nBuckets > 0) nBuckets else numBuckets
    val h = Seq(repo, path).foldLeft(42L) { (seed, s) =>
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), seed)
    }
    val m = (h % n).toInt
    if (m < 0) m + n else m
  }

  /** Candidate data files that can hold key `(repo, path)` under manifest
    * `m`: ONE bucket's files, minus files whose stats preclude the key
    * (key outside [minKey, maxKey] in unsigned byte order, or a salt
    * residue class the key does not hash into). Stats-less files are kept. */
  def lookupCandidateFiles(m: EpochManifest, repo: String, path: String)
      : Seq[DataFileEntry] = {
    val n = bucketCountOf(Some(m))
    val b = bucketOf(repo, path, n)
    val key = repo + FileStats.KeySep + path
    m.files.filter { f =>
      f.bucket == b &&
        f.minKey.forall(mk => FileStats.keyCompare(key, mk) >= 0) &&
        f.maxKey.forall(mk => FileStats.keyCompare(key, mk) <= 0) &&
        (f.saltMod <= 1 || f.saltRes < 0 || {
          val h = {
            val u = org.apache.spark.unsafe.types.UTF8String.fromString(path)
            org.apache.spark.sql.catalyst.expressions.XXH64
              .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
                u.numBytes(), 42L)
          }
          val r = (h % f.saltMod).toInt
          (if (r < 0) r + f.saltMod else r) == f.saltRes
        })
    }
  }

  /** [[lookupCandidateFiles]] narrowed by each candidate's NATIVE parquet
    * key blooms (when `spark.graft.keyBlooms` is on): one small metadata
    * read per stats-admitted candidate typically proves all-but-one (often
    * all, for an absent key) cannot hold the key — files without blooms are
    * admitted unchanged. */
  def lookupFiles(spark: SparkSession, m: EpochManifest, repo: String,
      path: String): Seq[DataFileEntry] = {
    val cands = lookupCandidateFiles(m, repo, path)
    val bloomsOn = spark.conf.getOption("spark.graft.keyBlooms")
      .forall(_.toBoolean)
    if (!bloomsOn || cands.isEmpty) cands
    else {
      val conf = hconf
      cands.filter(f => FileStats.mightContainKey(conf, f.path, repo, path))
    }
  }

  /** POINT LOOKUP (serving path): the user-view row(s) for one exact key,
    * reading only the files that can hold it — bucket pruning by the key
    * hash, then manifest-stats pruning (key range + salt residue), then a
    * per-candidate parquet BLOOM test, then parquet row-group pruning via
    * the pushed key predicate. At 100 TB a key lookup opens ~1 file, never
    * the table; an absent key usually proves absent with zero data reads. */
  def lookup(spark: SparkSession, repo: String, path: String): DataFrame =
    currentManifest() match {
      case None => read(spark).filter(lit(false))
      case Some(m) =>
        readFiles(spark, lookupFiles(spark, m, repo, path), m.schemaId)
          .filter(col("repo") === repo && col("path") === path)
          .filter(!coalesce(col("deleted"), lit(false)))
          .drop("bucket", "lastSeq", "deleted")
    }

  /** Files of `files` that can hold a row with lastSeq > `sinceSeq`
    * (manifest-stats pruning; files without stats are kept — skipping is
    * only ever an optimization). */
  def filesTouchedSince(files: Seq[DataFileEntry],
                        sinceSeq: Long): Seq[DataFileEntry] =
    files.filter(_.maxSeq.forall(_ > sinceSeq))

  /** Incremental read: rows whose `lastSeq` is AFTER `sinceSeq` (raw view —
    * tombstones included, so a downstream consumer sees deletes). The file
    * list is pruned by the manifest's per-file seq stats FIRST: a file whose
    * whole seq range predates the request is never opened — at 100 TB a
    * "changes in the last hour" read touches only the files recent epochs
    * rewrote, not the table (Iceberg-metrics-style scan pruning,
    * IcebergMetadataWriter.java:349-383). */
  def readChangesSince(spark: SparkSession, sinceSeq: Long): DataFrame =
    currentManifest() match {
      case None => emptyDf(spark).filter(lit(false))
      case Some(m) =>
        readFiles(spark, filesTouchedSince(m.files, sinceSeq), m.schemaId)
          .filter(col("lastSeq") > sinceSeq)
    }

  /** Change data feed between two snapshot versions (the table-format
    * analog of the reference's CDC distribution role — downstream consumers
    * incrementally sync from committed snapshots instead of re-reading the
    * table; Iceberg's incremental scan / Delta's CDF shape). Emits one row
    * per key whose USER-VISIBLE state differs between `fromVersion` and
    * `toVersion`:
    *
    *   - `insert`  — not live before, live after (incl. re-insert over a
    *                 tombstone); NEW image.
    *   - `update`  — live on both sides with a different applied seq
    *                 (`lastSeq` identifies the applied version of a key, so
    *                 a compaction/no-op rewrite that preserves state is NOT
    *                 a change); NEW image (postimage).
    *   - `delete`  — live before, tombstoned after; OLD image (preimage),
    *                 `seq` = the tombstone's seq — EXCEPT when the tombstone
    *                 was committed AND horizon-purged inside the diff window:
    *                 the key then diffs as (live, absent) and the emitted
    *                 delete row carries `seq` NULL (the tombstone's seq is
    *                 unrecoverable from either manifest). Direct consumers
    *                 must treat a NULL-seq delete as "deleted at some seq
    *                 inside (fromVersion, toVersion]'s committed delta" and
    *                 substitute an upper bound themselves — MirrorJob
    *                 coalesces with the top of the key's partition's claim
    *                 delta, which is the safe choice (≥ the lost seq, outside
    *                 the consumer's committed set).
    *
    * Scale shape: only files whose PATH differs between the two manifests
    * are read — data files are immutable and content-addressed by path, so
    * a file listed in both snapshots cannot contain a changed row (the
    * merge rewrites a touched bucket's non-skipped files; carried-forward
    * files are proven untouched). The diff is therefore O(changed buckets),
    * not O(table): at 100 TB a "changes since yesterday" feed reads the
    * files recent epochs rewrote plus their direct predecessors, nothing
    * else. When both versions share a bucket layout the two sides are
    * bucket-aligned DSv2 scans joined on (bucket, repo, path) — under the
    * storage-partitioned-join confs (MergeEngine's scoped set:
    * `spark.sql.sources.v2.bucketing.{enabled,shuffle.enabled}`,
    * `requireAllClusterKeysForCoPartition=false`) the full-outer diff runs
    * with ZERO exchanges; without them Catalyst falls back to a hash
    * shuffle of just the changed-bucket rows. Tombstones purged below the
    * safe horizon diff as (old tombstone, absent) — not a user-visible
    * change, correctly emitted as nothing.
    *
    * Ref: gobblin-iceberg/.../IcebergMetadataWriter.java:349-383 (snapshot
    * metadata as the incremental-consumption contract). */
  def changesBetween(spark: SparkSession, fromVersion: Long,
                     toVersion: Long,
                     bucketAligned: Boolean = true): DataFrame = {
    // DIRECTIONAL, not ordered: the diff is between two manifests, so a
    // BACKWARD pair (fromVersion > toVersion) is legal and yields exactly
    // the COMPENSATING changes that transform the newer state into the
    // older one — the building block of Revert.revertTo (CDC-consistent
    // rollback). Forward reads remain the normal CDC feed.
    require(fromVersion >= 0 && toVersion >= 0,
      s"changesBetween: versions must be committed snapshots " +
        s"($fromVersion, $toVersion)")
    val mNew = readManifest(toVersion)
    val target = mNew.schemaId
    val nonKey = SchemaRegistry.schemaFor(target).columns.map(_.name)
      .filterNot(Set("repo", "path"))
    def emptyChanges: DataFrame =
      readFiles(spark, Nil, target).select(
        lit("").as("change_type") +: col("repo") +: col("path") +:
          nonKey.map(col) :+ lit(0L).as("seq"): _*)
        .filter(lit(false))
    if (fromVersion == toVersion) return emptyChanges
    val mOld = readManifest(fromVersion)
    val oldPaths = mOld.files.map(_.path).toSet
    val newPaths = mNew.files.map(_.path).toSet
    // immutable files: same path ⇒ same bytes ⇒ no changed rows inside
    val oldOnly = mOld.files.filterNot(f => newPaths(f.path))
    val newOnly = mNew.files.filterNot(f => oldPaths(f.path))
    if (oldOnly.isEmpty && newOnly.isEmpty) return emptyChanges
    val sameLayout = bucketCountOf(Some(mOld)) == bucketCountOf(Some(mNew))
    val aligned = bucketAligned && sameLayout
    // one partition-value universe for BOTH sides so the key-grouped
    // layouts match exactly (empty partitions fill the gaps)
    val buckets = (oldOnly ++ newOnly).map(_.bucket).distinct.sorted
    def side(files: Seq[DataFileEntry], tag: String): DataFrame = {
      val raw =
        if (aligned && buckets.nonEmpty)
          readFilesBucketAligned(spark, files, target, Some(buckets))
        else readFiles(spark, files, target)
      val keyCols =
        if (aligned) Seq(col("bucket"), col("repo"), col("path"))
        else Seq(col("repo"), col("path"))
      raw.select(keyCols ++ Seq(
        struct(nonKey.map(col): _*).as(s"_${tag}_img"),
        col("lastSeq").as(s"_${tag}_seq"),
        coalesce(col("deleted"), lit(false)).as(s"_${tag}_del")): _*)
    }
    val joinKeys = if (aligned) Seq("bucket", "repo", "path")
                   else Seq("repo", "path")
    val j = side(oldOnly, "o").join(side(newOnly, "n"), joinKeys, "full_outer")
    // presence = the side's lastSeq survived the outer join (every written
    // row carries lastSeq; the missing side is all-NULL)
    val oldLive = col("_o_seq").isNotNull && !col("_o_del")
    val newLive = col("_n_seq").isNotNull && !col("_n_del")
    val ct = when(!oldLive && newLive, lit("insert"))
      .when(oldLive && newLive && col("_o_seq") =!= col("_n_seq"),
        lit("update"))
      .when(oldLive && !newLive, lit("delete"))
    j.withColumn("change_type", ct)
      .filter(col("change_type").isNotNull)
      .withColumn("_img", when(col("change_type") === "delete",
        col("_o_img")).otherwise(col("_n_img")))
      .select(col("change_type") +: col("repo") +: col("path") +:
        nonKey.map(n => col(s"_img.$n").as(n)) :+ col("_n_seq").as("seq"): _*)
  }

  /** Retention (SURVEY.md §2.9 cleaner analog; the reference's policy-driven
    * retention module, gobblin-data-management/.../retention/ version
    * policies — e.g. dataset/CleanableIcebergDataset.java): expire snapshots
    * by VERSION count, by AGE, or both combined, then delete data files
    * referenced by NO retained snapshot. A snapshot expires iff it is
    * (a) NOT among the newest `keepLast` versions AND (b) committed before
    * `olderThanMillis` (manifest-stamped wall clock; legacy manifests
    * without a stamp count as infinitely old). The current snapshot never
    * expires; readers of retained versions are unaffected (their manifests
    * and files survive). Defaults degrade to the pure count-based policy.
    * Returns (#manifests, #dataFiles) removed. */
  def expireSnapshots(keepLast: Int = 1,
                      olderThanMillis: Long = Long.MaxValue,
                      // orphan fseg files younger than this survive the
                      // sweep: they may belong to an IN-FLIGHT commit that
                      // published its segments but has not CAS'd its
                      // snapshot yet (segments publish BEFORE the snapshot
                      // rename by design)
                      orphanSegGraceMillis: Long = 3600000L,
                      // ORPHAN DATA-FILE SWEEP: data files referenced by NO
                      // listed snapshot — published by an epoch that lost
                      // the CAS non-rebasably or crashed pre-commit — are
                      // invisible to every reader (correct) but reclaim
                      // nothing by themselves; at 100× with commit races
                      // that is slow unbounded growth. The sweep lists the
                      // data layout (O(files) metadata — a maintenance op,
                      // not a hot path), subtracts every listed snapshot's
                      // resolved file list, applies the same mtime grace
                      // window as the fseg sweep (epochs publish files
                      // BEFORE the commit CAS by design — a slow in-flight
                      // commit's files must survive), re-lists snapshot
                      // versions immediately before deleting (a commit
                      // landing mid-sweep is excluded), and also clears
                      // staging leftovers older than the grace. Swept
                      // files count into the second return component.
                      sweepOrphanData: Boolean = true,
                      orphanDataGraceMillis: Long = -1L): (Int, Int) = {
    require(keepLast >= 1)
    val f = fs
    if (!f.exists(metaDir)) return (0, 0)
    // ONE metadata listing feeds versions AND the orphan sweep (mtimes)
    val metaLs = f.listStatus(metaDir)
    val versions = metaLs.iterator.map(_.getPath.getName).collect {
      case SnapName(v) => v.toLong
    }.toSeq.sorted
    if (versions.isEmpty) return (0, 0)
    val cutoff = versions.max - keepLast + 1
    // headers only for policy evaluation and SEGMENT refcounting (fileSegs
    // is a header field) — file lists are resolved further down, and only
    // when something actually expires
    val headers: Map[Long, EpochManifest] =
      versions.map(v => v -> readManifestHeader(v)).toMap
    val expired = versions.filter(v =>
      v < cutoff && headers(v).commitTimeMillis < olderThanMillis)
    val expiredSet = expired.toSet
    val retained = versions.filterNot(expiredSet)
    val retainedSegNames: Set[String] = retained
      .flatMap(v => headers(v).fileSegs).map(p => new HPath(p).getName).toSet
    // ORPHAN SWEEP (always, even when nothing expires): fseg files
    // referenced by NO listed snapshot were stranded by a CAS-losing commit
    // or a crash between segment publish and snapshot rename — without the
    // sweep they accumulate forever. The grace window keeps the sweep from
    // racing an in-flight commit's just-published segments. Segments
    // referenced by headers read in THIS pass are excluded by construction;
    // a commit landing after the listing is invisible to the (snapshotted)
    // listing and thus untouched.
    val referencedSegNames: Set[String] = versions
      .flatMap(v => headers(v).fileSegs).map(p => new HPath(p).getName).toSet
    val now = System.currentTimeMillis()
    val orphanCandidates = metaLs.iterator
      .filter(s => s.isFile && s.getPath.getName.startsWith("fseg-"))
      .filter(s => !referencedSegNames.contains(s.getPath.getName))
      .filter(s => now - s.getModificationTime >= orphanSegGraceMillis)
      .toSeq
    if (orphanCandidates.nonEmpty) {
      // The adoption-race defence below leans on commit()'s ADOPTION TOUCH
      // (writeFileSeg setTimes refresh restarting the grace window). On a
      // store where setTimes is a silent no-op the touch never lands, and
      // the ordering  sweep-relist < commit-CAS < commit-re-verify <
      // sweep-delete  would delete a segment a LISTED snapshot references
      // with nothing left to re-publish it. PROBE the store once per sweep:
      // write a scratch file, set its mtime into the past, read it back —
      // if the store ignored the call, skip orphan deletion entirely (the
      // strands survive until the table moves to a touch-capable store or
      // the operator cleans by hand; correctness beats reclamation).
      val touchSupported: Boolean = {
        val probe = new HPath(metaDir, s".touchprobe-${System.nanoTime()}")
        try {
          val out = f.create(probe, false)
          try out.write(Array[Byte](0)) finally out.close()
          val target = System.currentTimeMillis() - 2 * orphanSegGraceMillis
          try f.setTimes(probe, target, -1L)
          catch { case _: Exception => () }
          // tolerance floor: a tiny/zero grace (specs) must not fail a
          // store whose setTimes works but rounds to whole seconds
          math.abs(f.getFileStatus(probe).getModificationTime - target) <
            math.max(60000L, orphanSegGraceMillis / 2)
        } catch { case _: Exception => false }
        finally { try f.delete(probe, false) catch { case _: Exception => () } }
      }
      if (!touchSupported) {
        System.err.println(s"[graft] orphan fseg sweep SKIPPED for $dir: " +
          "store does not honor setTimes, so the adoption-touch protocol " +
          s"cannot protect racing commits (${orphanCandidates.size} " +
          "candidate strands left in place)")
      } else {
      // PRE-DELETE double-check against the adoption race: a commit that
      // ADOPTS a stale strand (write-if-absent reuse) may have CAS'd after
      // our header pass. Re-list for NEW snapshot versions and exclude
      // their referenced segments; also re-read each candidate's mtime —
      // the adopting commit touches it before its CAS, so a fresh mtime
      // means "claimed, not orphaned". (commit() additionally re-verifies
      // its segments post-CAS and re-publishes, so even a loss here heals.)
      val known = versions.toSet
      def freshSnapshotRefs(): Set[String] = listVersions().filterNot(known)
        .flatMap(v =>
          try readManifestHeader(v).fileSegs
          catch { case _: java.io.FileNotFoundException => Nil })
        .map(p => new HPath(p).getName).toSet
      val newRefs: Set[String] = freshSnapshotRefs()
      val now2 = System.currentTimeMillis()
      val survivors = orphanCandidates
        .filter(s => !newRefs.contains(s.getPath.getName))
        .filter { s =>
          try now2 - f.getFileStatus(s.getPath).getModificationTime >=
            orphanSegGraceMillis
          catch { case _: java.io.FileNotFoundException => false }
        }
      if (survivors.nonEmpty) {
        // one FINAL re-list after the mtime pass, immediately before the
        // deletes: an adopting commit that CAS'd between the first re-list
        // and here is now visible as a new snapshot version and excluded
        // (its touch also reset the mtime, but belt-and-braces costs one
        // listing on a path that only runs when strands exist)
        val lastRefs = freshSnapshotRefs()
        survivors
          .filterNot(s => lastRefs.contains(s.getPath.getName))
          .foreach(s => f.delete(s.getPath, false))
      }
      }
    }
    // ---- orphan DATA-FILE sweep (see the parameter doc above) ----------
    val dataGrace =
      if (orphanDataGraceMillis >= 0) orphanDataGraceMillis
      else orphanSegGraceMillis
    val sweptData: Int = if (!sweepOrphanData) 0 else {
      // referenced = every file of every version listed in THIS pass
      // (retained AND expired — expired jsons are still on disk here, so
      // their files are not orphans; the normal retention path below
      // removes them in the right order). Resolution is STRICT for
      // RETAINED versions: a retained snapshot whose segments are
      // transiently unreadable (e.g. the adoption-race window between a
      // concurrent sweep's delete and commit()'s post-CAS re-publish)
      // would otherwise contribute NOTHING to `referenced`, and its old
      // carried data files — past the mtime grace by definition — would be
      // deleted as "orphans": transient metadata failure must never become
      // live-table data loss, so the whole orphan-data sweep is skipped
      // for this run instead. EXPIRED corpses stay tolerant (a segment-less
      // legacy corpse contributes no protectable files). Paths are
      // QUALIFIED before comparison: manifests record publish-time
      // (possibly scheme-less) paths while listStatus returns fully
      // qualified ones — a raw string compare would see every committed
      // file as an orphan.
      def qual(p: String): String = f.makeQualified(new HPath(p)).toString
      val resolvedPerVersion: Seq[Option[Seq[String]]] = versions.map { v =>
        try Some(resolveFiles(headers(v)).files.map(e => qual(e.path)))
        catch { case _: java.io.FileNotFoundException =>
          if (expiredSet(v)) Some(Nil) else None
        }
      }
      if (resolvedPerVersion.contains(None)) {
        System.err.println(s"[graft] orphan data-file sweep SKIPPED for " +
          s"$dir: a RETAINED snapshot's segments did not resolve " +
          "(transient metadata race or corruption) — refusing to treat " +
          "its files as unreferenced")
        0
      } else {
      val referenced: Set[String] = resolvedPerVersion.flatMap(_.get).toSet
      val nowD = System.currentTimeMillis()
      val candidates: Seq[HPath] =
        if (!f.exists(dataDir)) Nil
        else f.listStatus(dataDir).iterator
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
          .flatMap(d => f.listStatus(d.getPath).iterator)
          .filter(s => s.isFile &&
            !referenced.contains(qual(s.getPath.toString)) &&
            nowD - s.getModificationTime >= dataGrace)
          .map(_.getPath).toSeq
      val swept =
        if (candidates.isEmpty) 0
        else {
          // final re-list: a commit that CAS'd after the header pass may
          // reference files we are about to delete (a rebase reuses the
          // epoch's already-published files) — exclude them
          val known = versions.toSet
          val lateRefs: Set[String] = listVersions().filterNot(known)
            .flatMap { v =>
              try resolveFiles(readManifestHeader(v)).files
                .map(e => qual(e.path))
              catch { case _: java.io.FileNotFoundException => Nil }
            }.toSet
          candidates.filterNot(p => lateRefs.contains(qual(p.toString)))
            .count(p => f.delete(p, false))
        }
      // staging leftovers (crashed mid-write epochs) age out the same way
      if (f.exists(stagingDir))
        f.listStatus(stagingDir).iterator
          .filter(s => nowD - s.getModificationTime >= dataGrace)
          .foreach(s => f.delete(s.getPath, true))
      swept
      }
    }
    if (expired.isEmpty) return (0, sweptData)
    // resolve file lists: STRICT for retained versions (a retained snapshot
    // with missing segments is real corruption), TOLERANT for expired ones
    // (a pre-r5 crash between segment delete and json delete left snapshots
    // whose segments are gone; such a version contributes no deletable data
    // files but its json must still go, or retention wedges forever)
    val retainedFiles: Set[String] = retained
      .flatMap(v => resolveFiles(headers(v)).files.map(_.path)).toSet
    val expiredFiles: Set[String] = expired.flatMap { v =>
      try resolveFiles(headers(v)).files.map(_.path)
      catch { case _: java.io.FileNotFoundException => Nil }
    }.toSet
    val removable = expiredFiles -- retainedFiles
    // ORDERING (crash safety): expired snapshot JSONS go FIRST — a crash
    // later in this method only leaks unreferenced segments/data files (the
    // orphan sweep collects segments next run; unlisted data files are
    // invisible to readers), whereas deleting segments first could leave
    // LISTED snapshots whose segments are gone, wedging every later
    // full-manifest pass.
    expired.foreach(v => f.delete(snapPath(v), false))
    // segments are refcounted like data files: content-addressed segments
    // are commonly SHARED across snapshots (that is the point), so only
    // segments referenced by NO retained snapshot go. No grace here — an
    // expired-referenced segment was committed, never in-flight.
    expired.flatMap(v => headers(v).fileSegs).toSet
      .filterNot(p => retainedSegNames.contains(new HPath(p).getName))
      .foreach(p => f.delete(new HPath(p), false))
    removable.foreach(p => f.delete(new HPath(p), false))
    graft.metrics.Metrics.emit("graft.maintenance", "SnapshotsExpired", Map(
      "table" -> dir,
      "expiredManifests" -> expired.size.toString,
      "deletedFiles" -> (removable.size + sweptData).toString,
      "retainedVersions" -> retained.size.toString))
    (expired.size, removable.size + sweptData)
  }

  def readFiles(spark: SparkSession, files: Seq[DataFileEntry],
                targetSchemaId: Int = SchemaRegistry.baseSchemaId): DataFrame =
    if (files.isEmpty)
      SchemaRegistry.evolve(emptyDf(spark), SchemaRegistry.baseSchemaId,
        targetSchemaId)
    else {
      // group files by written schema, evolve each group, union by name;
      // basePath = the single data root, so the bucket=<b> partition column
      // infers consistently for any file subset
      files.groupBy(_.schemaId).toSeq.sortBy(_._1).map { case (sid, fl) =>
        val df = spark.read
          .option("basePath", dataDir.toString)
          .parquet(fl.map(_.path): _*)
        SchemaRegistry.evolve(df, sid, targetSchemaId)
      }.reduce(_.unionByName(_))
    }

  /** Bucket-aligned read: a DataSource-V2 scan over the manifest-listed
    * files reporting `KeyGroupedPartitioning(bucket)` — the storage-
    * partitioned-join contract (the table-format scan the reference gets
    * from Iceberg, IcebergMetadataWriter.java:834-905). One input partition
    * per bucket in `buckets` (default: the buckets the files occupy; pass a
    * superset to align the partition-value universe with the other join
    * side). A downstream join keyed on (bucket, ...) against a side laid
    * out with `GraftSqlBridge.dataFrameWithKeyGroupedPartitioning` over the
    * SAME bucket list then needs NO exchange on either side — the CoW MERGE
    * target never shuffles, it is read in place per bucket, and driver plan
    * size stays flat in bucket count (one BatchScan node; file lists ride
    * the serialized input partitions).
    *
    * Requires at planning time (MergeEngine scopes them per epoch):
    * `spark.sql.sources.v2.bucketing.enabled` and
    * `spark.sql.sources.v2.bucketing.shuffle.enabled` true (the latter lets
    * Catalyst accept co-partitioning against the laid-out side), plus
    * `spark.sql.requireAllClusterKeysForCoPartition=false`. */
  def readFilesBucketAligned(spark: SparkSession, files: Seq[DataFileEntry],
      targetSchemaId: Int = SchemaRegistry.baseSchemaId,
      buckets: Option[Seq[Int]] = None): DataFrame = {
    require(files.nonEmpty || buckets.exists(_.nonEmpty),
      "bucket-aligned read of an empty file set needs an explicit bucket list")
    val bs = buckets.getOrElse(files.map(_.bucket).distinct.sorted)
    BucketScan.read(spark, files, bs, targetSchemaId)
  }

  private def emptyDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[FileRow]
      .withColumn("bucket", lit(0))
      .withColumn("lastSeq", lit(null).cast("long"))
      .withColumn("deleted", lit(false))
  }

  // ---- writes -------------------------------------------------------------

  def bucketCol(repo: org.apache.spark.sql.Column,
                path: org.apache.spark.sql.Column,
                nBuckets: Int = -1): org.apache.spark.sql.Column =
    pmod(xxhash64(repo, path),
      lit(if (nBuckets > 0) nBuckets else numBuckets)).cast("int")

  private val wTiming = sys.env.get("SPARK_GRAFT_TIMING").contains("1")
  private def wTimed[T](name: String)(f: => T): T =
    if (!wTiming) f else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(
        f"[timing]   $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  /** Write rows (FileRow columns + `bucket`) as data files for `epochId`:
    * one file per bucket (per salt slice when salted), into a STAGING dir,
    * then publish each file into `data/bucket=<b>/e<epochId>-<name>` by
    * rename (staging→output atomicity; a crash mid-publish leaves only
    * unreferenced orphans).
    * An unsalted write PACKS buckets into core-sized tasks: at most
    * `min(buckets, defaultParallelism)` writer tasks, each holding whole
    * buckets and writing one file per bucket it holds. Most of a small
    * write task's time is per-task fixed cost (codegen source generation,
    * task and Hadoop-conf deserialization, output committer set-up), so
    * one task per bucket paid it 32 times per epoch on a 32-bucket table
    * where 4 cores can only run 4 tasks at once.
    * `saltPerBucket > 1` splits each bucket across that many writer tasks
    * (the north-star "salted repartitioning before the merge-apply stage"):
    * a Zipf-hot bucket then produces several files in parallel instead of
    * one straggler task; readers are unaffected (manifests list all files).
    * Salted files are keyed by an explicit `_salt` staging partition column
    * (stripped at publish — the data layout stays single-level), so each
    * file's (saltMod, saltRes) residue class is EXACT and recorded in its
    * manifest entry: a later epoch whose winners miss the residue skips the
    * file without opening it (see MergeEngine file skipping).
    * `alignedByBucket = true` declares that every input partition already
    * holds whole buckets (bucket-aligned MERGE or compaction output): the
    * input is then `coalesce`d — narrow, no exchange, each bucket's
    * partition still lands whole in one task — instead of repartitioned.
    * Unaligned input is repartitioned by `bucket` into the packed task
    * count. Salted writes keep their `(bucket, _salt)` fan-out.
    * Published entries carry footer stats (rows + key/seq min-max) from one
    * pooled metadata pass — the skipping/verifier inputs. */
  def writeEpochFiles(df: DataFrame, epochId: Long,
      schemaId: Int = SchemaRegistry.baseSchemaId,
      saltPerBucket: Int = 1,
      alignedByBucket: Boolean = false,
      nBuckets: Int = -1): Seq[DataFileEntry] = {
    val f = fs
    val nb = if (nBuckets > 0) nBuckets else numBuckets
    val salted = saltPerBucket > 1
    val staging = new HPath(stagingDir,
      s"e$epochId-${System.nanoTime()}")
    val nTasks = math.max(1,
      math.min(nb, df.sparkSession.sparkContext.defaultParallelism))
    val parted =
      if (alignedByBucket && !salted) df.coalesce(nTasks)
      else if (!salted) df.repartition(nTasks, col("bucket"))
      else df
        .withColumn("_salt",
          pmod(xxhash64(col("path")), lit(saltPerBucket)).cast("int"))
        .repartition(nb * saltPerBucket, col("bucket"), col("_salt"))
    val sorted = parted
      .sortWithinPartitions("bucket", "repo", "path")
      .write.mode("overwrite")
    // Native parquet key blooms (spark.graft.keyBlooms, default on): the
    // point-lookup path tests them AFTER range/residue pruning to cut the
    // candidate set to ~1 file under non-clustered keys. ADAPTIVE sizing
    // (PARQUET-2254) right-sizes each bloom from the chunk's observed NDV,
    // so small files don't pay the max-bytes footprint. Blooms live in the
    // files, never the manifest — see FileStats.mightContainKey.
    val withBlooms =
      if (df.sparkSession.conf.getOption("spark.graft.keyBlooms")
            .forall(_.toBoolean))
        sorted
          .option("parquet.bloom.filter.enabled#repo", "true")
          .option("parquet.bloom.filter.enabled#path", "true")
          .option("parquet.bloom.filter.adaptive.enabled", "true")
      else sorted
    wTimed("write-job")(
      (if (salted) withBlooms.partitionBy("bucket", "_salt")
       else withBlooms.partitionBy("bucket"))
        .parquet(staging.toString))
    // publish: move every staged file under the flat single-level data
    // layout (any _salt staging level is flattened into the file NAME —
    // one task can stage the same part-file name under two _salt dirs of
    // one bucket, so the name must carry the residue to stay unique)
    def publishDir(d: HPath, bucket: Int, saltRes: Int)
        : Iterator[DataFileEntry] = {
      val destDir = new HPath(dataDir, s"bucket=$bucket")
      f.mkdirs(destDir)
      val tag = if (saltRes >= 0) s"e$epochId-s$saltRes-" else s"e$epochId-"
      f.listStatus(d).iterator
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map { s =>
          val dest = new HPath(destDir, tag + s.getPath.getName)
          if (!f.rename(s.getPath, dest))
            throw new IllegalStateException(s"publish failed: $dest")
          DataFileEntry(dest.toString, bucket, -1L, schemaId, s.getLen,
            saltMod = if (saltRes >= 0) saltPerBucket else 1,
            saltRes = saltRes)
        }
    }
    val entries = wTimed("publish")(f.listStatus(staging).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap { d =>
        val bucket = d.getPath.getName.stripPrefix("bucket=").toInt
        if (!salted) publishDir(d.getPath, bucket, -1)
        else f.listStatus(d.getPath).iterator
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("_salt="))
          .flatMap { sd =>
            publishDir(sd.getPath, bucket,
              sd.getPath.getName.stripPrefix("_salt=").toInt)
          }
      }.toSeq)
    f.delete(staging, true)
    if (wTiming)
      System.err.println(s"[timing]   files=${entries.size} salt=$saltPerBucket aligned=$alignedByBucket")
    val sortedEntries = entries.sortBy(e => (e.bucket, e.path))
    // footer-stats pass: small batches use the bounded driver pool; past
    // the threshold it runs as a Spark job so a many-file epoch (e.g. 1024
    // salted files on an object store) doesn't serialize N/16 footer
    // round-trips through the driver on the commit critical path
    val distMin = df.sparkSession.conf
      .getOption("spark.graft.distributedStatsMinFiles")
      .map(_.toInt).getOrElse(64)
    wTimed("footer-stats")(
      if (sortedEntries.size >= distMin)
        FileStats.fillAllDistributed(df.sparkSession, sortedEntries)
      else FileStats.fillAll(hconf, sortedEntries))
  }

  /** All PUBLISHED data files of the given epoch (committed or orphaned). */
  def listEpochFiles(epochId: Long,
      schemaId: Int = SchemaRegistry.baseSchemaId): Seq[DataFileEntry] = {
    val prefix = s"e$epochId-"
    epochFileStatuses(prefix).map { case (bucket, s) =>
      DataFileEntry(s.getPath.toString, bucket, -1L, schemaId, s.getLen)
    }.sortBy(e => (e.bucket, e.path))
  }

  private def epochFileStatuses(prefix: String): Seq[(Int, FileStatus)] = {
    val f = fs
    if (!f.exists(dataDir)) return Seq.empty
    f.listStatus(dataDir).iterator
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket="))
      .flatMap { d =>
        val bucket = d.getPath.getName.stripPrefix("bucket=").toInt
        f.listStatus(d.getPath).iterator
          .filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
          .map(bucket -> _)
      }.toSeq
  }

  /** Commit a schema evolution: new snapshot, same files, new schemaId —
    * metadata-only, atomic with the snapshot publish. */
  def evolveSchema(toSchemaId: Int): EpochManifest = {
    val parent = currentManifest().getOrElse(
      EpochManifest(-1L, -1L, SchemaRegistry.baseSchemaId, Nil, Nil,
        EpochStats(0, 0, 0, 0, 0), -2L))
    SchemaRegistry.validateEvolution(
      SchemaRegistry.schemaFor(parent.schemaId),
      SchemaRegistry.schemaFor(toSchemaId))
    commit(parent.copy(
      version = parent.version + 1,
      schemaId = toSchemaId,
      parentVersion = parent.version))
  }

  /** Snapshot ROLLBACK (ops): re-point the table at retained version `v`'s
    * state under a FRESH version — a metadata-only commit copying v's
    * files, schema, offsets, completeness watermark, and bucket layout
    * (Iceberg's rollback-to-snapshot shape: O(metadata), no data IO; v's
    * files are guaranteed on disk because retention never deletes files a
    * retained snapshot references). Readers see v's state immediately;
    * time travel to the in-between versions still works until they expire.
    *
    * HARD rollback is NOT CDC-consistent — committed offsets REGRESS, so:
    *  - change-feed consumers whose start version predates the rollback
    *    cannot interpret the window (rows mostly fenced, vanished keys
    *    never emit deletes): restart feed consumers from scratch;
    *  - a MIRROR cannot be mechanically rolled back (every re-emitted row
    *    loses the fence/LWW against the mirror's newer state) — MirrorJob
    *    detects the offset regression and FAILS LOUDLY; rebuild replicas.
    * For a rollback downstream consumers can follow, use
    * [[graft.maintenance.Revert.revertTo]]: a COMPENSATING EPOCH (normal
    * commit, fresh seqs) that restores v's user-visible state while
    * offsets keep advancing.
    *
    * The purge mark is kept at the max of both manifests (monotone), and
    * the rollback commit's epochId tags the operation so operators can see
    * it in history(). */
  def rollbackTo(v: Long): EpochManifest = {
    val cur = currentManifest().getOrElse(
      throw new IllegalStateException("rollbackTo on an empty table"))
    require(v >= 0 && v <= cur.version,
      s"rollbackTo($v): no such version (current ${cur.version})")
    if (v == cur.version) return cur
    val target =
      try readManifest(v)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"rollbackTo($v): version expired by retention; " +
              s"earliest retained: ${history().headOption.map(_.version)}")
      }
    commit(target.copy(
      version = cur.version + 1,
      parentVersion = cur.version,
      epochId = 1300000000L + v, // ops tag: visible in history()
      purgedBelowSeq =
        math.max(cur.purgedBelowSeq, target.purgedBelowSeq)))
  }

  /** Register the CURRENT snapshot's user view under a SQL-queryable name
    * (the reference's publish-time catalog registration,
    * gobblin-core/.../publisher/HiveRegistrationPublisher.java:71;
    * gobblin-hive-registration). Re-invoked after each commit so
    * `spark.sql("SELECT ... FROM name")` always reads the latest snapshot;
    * the view pins THIS manifest's file list, so an in-flight query is
    * snapshot-isolated from later commits. */
  def registerView(spark: SparkSession, name: String): Unit =
    read(spark).createOrReplaceTempView(name)

  /** Remove data files for a given epoch that were never committed (crash
    * cleanup); safe because readers only see manifest-listed files. Also
    * clears any staging leftovers of that epoch. */
  def dropUncommittedEpochFiles(epochId: Long): Unit = {
    val f = fs
    val committed: Set[String] = currentManifest()
      .map(_.files.map(_.path).toSet).getOrElse(Set.empty)
    val published = epochFileStatuses(s"e$epochId-")
    if (!published.exists { case (_, s) => committed.contains(s.getPath.toString) })
      published.foreach { case (_, s) => f.delete(s.getPath, false) }
    if (f.exists(stagingDir))
      f.listStatus(stagingDir).iterator
        .filter(_.getPath.getName.startsWith(s"e$epochId-"))
        .foreach(s => f.delete(s.getPath, true))
  }
}

object IceTable {
  def create(dir: String, numBuckets: Int = 32,
             inlineFileThreshold: Int = 1024,
             segChunkBuckets: Int = 128): IceTable =
    new IceTable(dir, numBuckets, inlineFileThreshold, segChunkBuckets).init()
}
