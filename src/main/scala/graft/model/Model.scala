package graft.model

/**
 * Core data model of the CDC/incremental-ingest engine.
 *
 * The shapes mirror the reference's constructs (see SURVEY.md §1):
 *  - [[ChangeEvent]] is the record envelope: payload columns fixed by the
 *    north-star input hint `(repo, path, commit, lang, content)` plus a CDC
 *    envelope `(op, seq)` — the analog of Gobblin's `RecordEnvelope`
 *    (reference: gobblin-api/.../stream/RecordEnvelope.java:53-57) where the
 *    per-record watermark is the global sequence number `seq`.
 *  - [[FileRow]] is one row of the target table; `contentSha` is the
 *    per-row invariant (sha256 of content) used for replay verification.
 *  - [[OffsetRange]] is a WorkUnit's `WatermarkInterval` analog
 *    (gobblin-api/.../source/extractor/WatermarkInterval.java:30-43):
 *    half-open-low/closed-high `(lowSeq, highSeq]` per log partition.
 *  - [[EpochManifest]] is the atomic commit unit — the Spark-native analog of
 *    the single Iceberg transaction Gobblin's IcebergMetadataWriter commits
 *    per flush (gobblin-iceberg/.../writer/IcebergMetadataWriter.java:834-905):
 *    data files + offset ranges + schema id + counters, all-or-nothing.
 */
final case class ChangeEvent(
    op: String,      // "i" | "u" | "d"
    seq: Long,       // globally monotone sequence (source offset / watermark)
    repo: String,
    path: String,
    commit: String,  // 40-hex synthetic commit id
    lang: String,
    content: String) // empty for deletes

final case class FileRow(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String,
    contentSha: String)

/** `(lowSeq, highSeq]` committed from one log partition — open-low,
  * closed-high. A partition may own SEVERAL disjoint ranges when micro-
  * batches arrive out of order (file batches have no global order
  * guarantee); ranges merge when they touch — exactly the reference's
  * connected-range span merge (IcebergMetadataWriter.mergeOffsets,
  * gobblin-iceberg/.../IcebergMetadataWriter.java:406-435). */
final case class OffsetRange(partitionId: Int, lowSeq: Long, highSeq: Long)

/** Per-epoch, per-table counters — Gobblin job-state counter parity
  * (KafkaExtractorStatsTracker.java:66-76). `staleDrops` counts updates
  * that lost last-writer-wins against an already-applied newer row
  * (possible only under out-of-order delivery). */
final case class EpochStats(
    rowsExtracted: Long,
    rowsQuarantined: Long,
    dedupDrops: Long,
    rowsApplied: Long,
    deletesApplied: Long,
    staleDrops: Long = 0L)

/** One data file referenced by a snapshot manifest. `schemaId` records the
  * content schema the file was WRITTEN with; readers evolve it forward to the
  * snapshot's current schema (Iceberg-style read-time projection by column
  * id — cf. IcebergMetadataWriter.computeCandidateSchema,
  * gobblin-iceberg/.../writer/IcebergMetadataWriter.java:455-524).
  *
  * The optional fields are per-file column statistics for data skipping (the
  * Iceberg data-file metrics analog, IcebergMetadataWriter.java:349-383):
  *  - `minKey`/`maxKey` — conservative bounds on the composed row key
  *    `repo + NUL + path` (see [[graft.table.FileStats]]),
  *  - `minSeq`/`maxSeq` — bounds on the stored `lastSeq`,
  *  - `saltMod`/`saltRes` — when a hot-bucket write salted the bucket across
  *    several files, each file holds ONLY keys with
  *    `pmod(xxhash64(path), saltMod) == saltRes`; an epoch whose winners
  *    miss that residue class can skip the file entirely.
  * All default to absent — a file without stats is readable everywhere and
  * simply never skipped (legacy manifests keep working unchanged). */
final case class DataFileEntry(path: String, bucket: Int, rows: Long,
    schemaId: Int, bytes: Long = -1L,
    minKey: Option[String] = None, maxKey: Option[String] = None,
    minSeq: Option[Long] = None, maxSeq: Option[Long] = None,
    saltMod: Int = 1, saltRes: Int = -1)

/**
 * Snapshot manifest: the unit of atomic commit. A snapshot is readable iff
 * its manifest exists and the table's pointer file references it; data files
 * not listed in the current manifest are invisible (Iceberg's rule), which is
 * what makes a crash between data-file write and manifest commit harmless.
 */
final case class EpochManifest(
    version: Long,               // snapshot version (monotone)
    epochId: Long,               // ingestion epoch that produced it
    schemaId: Int,               // content schema at commit time
    files: Seq[DataFileEntry],   // complete file list of this snapshot
    offsets: Seq[OffsetRange],   // committed (low, high] per log partition
    stats: EpochStats,
    parentVersion: Long,         // -1 for the first snapshot
    // Completeness watermark (CompletenessWatermarkUpdater.java:45 analog):
    // every seq <= completeUntilSeq is contiguously committed on EVERY
    // partition from the log origin — consumers may treat data up to here as
    // complete. Monotone; advances only when per-epoch counters reconciled
    // (RowCountReconciliation gates each contributing commit). MinValue
    // until the origin prefix is covered.
    completeUntilSeq: Long = Long.MinValue,
    // Wall-clock commit time, stamped by IceTable.commit at publish (-1 on
    // legacy manifests). Drives TIME-based retention policies (the
    // reference's policy-driven retention module,
    // gobblin-data-management/.../retention/) — durable in the manifest so
    // it survives table copies, unlike filesystem mtimes.
    commitTimeMillis: Long = -1L,
    // Hash-bucket count of THIS snapshot's data layout (-1 on legacy
    // manifests = the table's construction-time default). Recorded per
    // snapshot so `rebucket` can migrate a table that outgrew its bucket
    // width — the partition-spec-evolution analog
    // (IcebergMetadataWriter.java:507-524, updateSpec().addField).
    numBuckets: Int = -1,
    // TWO-LEVEL METADATA (Iceberg's snapshot -> manifest-list -> manifest
    // files): when the file list is large, the snapshot json stores it as
    // references to immutable CONTENT-ADDRESSED segment files (one per
    // bucket-range chunk) instead of inline `files`. A commit then writes
    // only the segments whose chunk CHANGED — identical chunks hash to the
    // same path and are skipped — so per-commit metadata IO is O(touched
    // buckets), not O(all files): the property that keeps a million-file
    // table's commit cost flat. IceTable.readManifest resolves segments
    // back into `files`, so the rest of the engine never sees the split.
    fileSegs: Seq[String] = Nil,
    // Monotone high-water mark of TOMBSTONE PURGES: compaction stamps the
    // safe horizon it purged at whenever it actually removed tombstone rows
    // (Long.MinValue = no purge ever / legacy manifest). The change feed
    // compares the two endpoint manifests' marks to decide whether a key
    // can have gone live→absent inside a window (delete committed AND
    // purged between the versions) — only then does it pay for the
    // removed-file key diff that synthesizes those deletes; windows with no
    // purge (the overwhelming norm) prove the absence of such keys from
    // metadata alone.
    purgedBelowSeq: Long = Long.MinValue,
    // Header-level file-list summary, stamped by IceTable.commit at publish:
    // lets history()/versionAsOf() answer metadata questions WITHOUT
    // resolving segment files (on a long-history segmented table resolving
    // every version is O(versions × files) driver IO for answers the
    // snapshot json already carries). -1 on legacy manifests — readers
    // derive from `files` instead.
    fileCount: Int = -1,
    dataBytes: Long = -1L)

/** Lineage row persisted per (epoch, log-partition) — the "lineage rows in a
  * state table" of the north star; analog of Gobblin's per-WorkUnit committed
  * watermarks (StateStoreBasedWatermarkStorage.java:47-125). */
final case class LineageRow(
    epochId: Long,
    partitionId: Int,
    srcLowSeq: Long,
    srcHighSeq: Long,
    rowsApplied: Long,
    dedupDrops: Long,
    watermarkLag: Long)
