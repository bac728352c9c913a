package graft.sources

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level keyed MERGE over versioned parquet — the storage half of
  * the reference's continuous `ON CONFLICT (content_hash) DO UPDATE`
  * upsert loop (`backend/services/vector_service.py:119-125`, Supabase
  * `knowledge_base-RAG.sql` unique keys). The DataFrame-level upsert
  * ([[graft.operators.Dedup.upsert]]) answers "what are the merged
  * rows"; this answers "how does a 100 TB table absorb them without a
  * full rewrite":
  *
  *  - a table is `path/data/...parquet` plus `path/_manifests/v<N>`,
  *    each manifest the closed list of data files in that version —
  *    readers resolve the latest manifest and see ONE version, never a
  *    half-written directory;
  *  - `merge` rewrites ONLY the files that contain a matched key
  *    (discovered with a key-range pushdown + semi-join on
  *    `input_file_name`); untouched files are carried into the next
  *    manifest by reference, never copied;
  *  - commits are optimistic: the next manifest is created
  *    exclusively (atomic on HDFS-like filesystems); losing a race
  *    throws [[MergeTable.CommitConflict]] after re-trying the whole
  *    merge against the new snapshot, mirroring Delta/Iceberg OCC;
  *  - failed attempts leave only unreferenced data files — [[vacuum]]
  *    deletes whatever the latest manifest doesn't claim.
  *
  * Scale notes: touched-file discovery scans only the key column, and
  * when the table was [[compactTable]]'d (files range-sorted on the
  * key) the min/max pre-filter prunes most files at the parquet-footer
  * level before the semi-join. The rewrite cost is proportional to the
  * files actually hit — the point of keyed storage MERGE.
  */
object MergeTable {

  /** One manifest entry: the data file's path and its exact byte size
    * as recorded by the committing writer (−1 for lines from a legacy
    * size-less manifest). The size is what lets [[read]] build the
    * relation with ZERO filesystem calls ([[ManifestFileIndex]]). */
  final case class FileEntry(path: String, size: Long)

  /** @param entries the BASE data files of the version
    * @param delta the row-level-merge delta files ([[mergeLite]]) —
    *        small, last-wins-per-key rows whose key set suppresses the
    *        superseded base rows at read time (empty on tables that
    *        only ever rewrite-merge). Keys are unique ACROSS the whole
    *        delta file set — disjoint batches append their own files,
    *        overlapping ones re-write the set combined — so the read
    *        union needs no precedence order between delta files
    * @param dvKeys the key columns the delta's suppression joins on
    *        (nonempty iff `delta` is)
    * @param dvFiles the SCOPE of the suppression: the base files that
    *        contain at least one row a delta key supersedes (recorded
    *        by [[mergeLite]]'s discovery — exact, so base files outside
    *        it provably hold no superseded row and read BARE, paying
    *        zero anti-join tax; an insert-only delta scopes to the
    *        empty set). `None` = unscoped — a manifest written before
    *        scoping landed, or a batch too large/multi-keyed to scope
    *        with a cheap point-probe discovery: suppression falls back
    *        to every base file, and the next small mergeLite upgrades
    *        it. Always a subset of `entries`. */
  /** Per-file [lo, hi] of one long-ordered column, recorded in the
    * manifest (Delta's stats-in-log, miniature): lets the read path
    * prune FILES at planning time on range/point predicates — no task
    * scheduled, no footer opened — instead of paying a task per file
    * to discover emptiness. Ranges cover the file's NON-NULL values
    * (parquet footer semantics); files absent from `ranges` are
    * unprunable and always read. `col`'s Spark type must be
    * long-ordered ([[statsSupported]]) — or, with `hex = true`, a
    * STRING column in the lowercase-hex domain (content_hash, md5/
    * sha256 keys — Delta's truncated string min/max, specialised to
    * the one domain where byte order, UTF-16 order, and a 64-bit
    * prefix encoding provably agree; [[hexLoBound]]): bounds are then
    * the sign-flipped u64 of the value's first 16 hex chars, padded
    * low/high, and a file whose footer min/max are not hex records no
    * stats (unprunable, never wrong). Established by [[compactTable]]
    * / [[compactTableZOrder]] and maintained by every later writer. */
  final case class TableStats(
      col: String, ranges: Map[String, (Long, Long)], hex: Boolean = false)

  /** Lower/upper bound encodings for the lowercase-hex string domain:
    * the u64 of the FIRST 16 hex chars (shorter strings pad with 0x0
    * for the lower bound, 0xf for the upper), shifted by Long.MinValue
    * so plain SIGNED comparisons preserve unsigned order. None when
    * any of the first 16 chars is outside [0-9a-f] — the value is not
    * in the domain and must never prune.
    *
    * SOUNDNESS LEMMA (PropertySpec-pinned; note hexHiBound is NOT
    * monotone — on a prefix pair like "a" < "ab" the 0xf padding makes
    * hi("a") > hi("ab"), and the pruner never relies on it): over hex
    * strings in byte order (= UTF-16 order on ASCII),
    *   (1) hexLoBound IS monotone, and
    *   (2) hexLoBound(s) <= hexHiBound(s) for every s.
    * These two alone make every excluder conservative: for a file with
    * hex footer [min, max] and any hex v with min <= v <= max, the
    * probe interval [lo(v), hi(v)] always intersects the recorded
    * [lo(min), hi(max)] — lo(v) <= lo(max) <= hi(max) by (1)+(2), and
    * hi(v) >= lo(v) >= lo(min) likewise — so equality never prunes a
    * present value, and the range excluders' contrapositives (e.g.
    * hi(max) < lo(q) ⟹ max < q) follow the same way. Parquet's own
    * truncated-binary stats stay conservative too: a truncated-up max
    * either remains hex (still a byte-order upper bound) or stops
    * being hex (no stats recorded). */
  private[graft] def hexLoBound(s: String): Option[Long] = hexBound(s, 0x0)
  private[graft] def hexHiBound(s: String): Option[Long] = hexBound(s, 0xf)
  private def hexBound(s: String, pad: Int): Option[Long] = {
    var v = 0L
    var i = 0
    val n = math.min(16, s.length)
    while (i < n) {
      val c = s.charAt(i)
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else return None
      v = (v << 4) | d.toLong
      i += 1
    }
    while (i < 16) { v = (v << 4) | pad.toLong; i += 1 }
    Some(v + Long.MinValue) // flip the sign bit: unsigned order -> signed
  }

  /** @param schemaJson the version's LOGICAL schema (Spark StructType
    *        JSON), recorded by every commit since additive schema
    *        evolution landed: the authoritative read schema once a
    *        merge with `allowSchemaEvolution` has widened the table —
    *        files written before the widening lack the new columns and
    *        read them as NULL (the parquet missing-column convention
    *        Spark's reader already implements), so the head file's
    *        footer can no longer define the table. Version-pinned by
    *        construction: time travel and clones see the schema as of
    *        THEIR manifest. `None` = a legacy manifest — the reader
    *        probes the head file (all files agree pre-evolution) and
    *        the next commit records it, the withSizes convention. A
    *        recorded schema also makes snapshot→relation a ZERO-IO
    *        step (the head-footer probe was the read path's last
    *        per-open filesystem call).
    * @param deletes the row-level DELETE key files ([[deleteLite]]):
    *        parquet files holding ONLY the key columns of deleted
    *        rows. They contribute NO rows to the read — their key set
    *        joins the delta's in the base-leg suppression (a deleted
    *        base row is superseded by nothing) — and their keys are
    *        DISJOINT from the delta's by commit invariant (a key
    *        re-inserted after deletion moves from `deletes` to
    *        `delta` in the same commit). Kept as ONE combined file
    *        set per commit (key-only rows are narrow; re-writing the
    *        accumulated set costs ~nothing next to mergeLite's wide
    *        rows, and the read union's file count stays flat).
    * @param dvLits the version's COMPLETE suppression key set (delta
    *        keys ∪ tombstone keys) as driver-side literal values, when
    *        the table rides the single-column point-probe regime (one
    *        stable-typed key column, ≤ [[KeySet.DiscoveryInLimit]] accumulated
    *        keys): reads then suppress with a NULL-guarded NOT-In
    *        filter pushed straight at the base scan instead of building
    *        a union+distinct+broadcast anti-join per open — zero jobs,
    *        zero exchanges, zero tombstone-file IO on the read path.
    *        Maintained incrementally by every row-level writer (each
    *        commit's set is provably prev ∪ batch); None = the
    *        broadcast path (always correct), entered when a batch
    *        misses literal capture or the union overflows the budget,
    *        and left again at the next fold. */
  final case class Snapshot(
      version: Long, entries: Seq[FileEntry],
      delta: Seq[FileEntry] = Nil, dvKeys: Seq[String] = Nil,
      dvFiles: Option[Seq[String]] = None,
      stats: Seq[TableStats] = Nil,
      schemaJson: Option[String] = None,
      deletes: Seq[FileEntry] = Nil,
      colMap: ColMap = ColMap.empty,
      dvLits: Option[Seq[Any]] = None) {
    /** True when the version carries ANY row-level state — update
      * delta, delete keys, or both. */
    def rowLevel: Boolean = delta.nonEmpty || deletes.nonEmpty
    /** The decoded recorded schema (None on legacy manifests). */
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    /** The BASE file-path list of this version. */
    def files: Seq[String] = entries.map(_.path)
    /** Every data file the version references, base and delta — the
      * vacuum-liveness set. */
    def allFiles: Seq[String] = (entries ++ delta ++ deletes).map(_.path)
  }

  /** COLUMN MAPPING state (Delta column mapping, the name-indirection
    * technique): the manifest's recorded schema and every persisted
    * artifact — data files, dvkeys, stats lines, bloom config — speak
    * PHYSICAL column names, which never change once assigned; the
    * mapping translates them to the user-facing LOGICAL names at the
    * public boundary. That one indirection is what makes
    * [[renameColumn]] a manifest-only commit (no file rewritten — the
    * physical name in every parquet footer stays put) and
    * [[dropColumn]] a manifest-only retirement (old files keep the
    * data; readers stop binding it; [[retired]] remembers the name so
    * a later re-ADD of the same logical name gets a FRESH physical
    * name and never resurrects the dropped data — the classic
    * column-mapping trap).
    *
    * @param ren physical → logical for exactly the columns whose two
    *        names DIFFER (identity pairs are never stored — an
    *        unmapped table encodes as no line at all, and its plans
    *        are bit-identical to pre-mapping reads)
    * @param retired physical names that once held data in files still
    *        referenced by manifests — never reusable for new columns */
  final case class ColMap(ren: Map[String, String], retired: Seq[String]) {
    def isEmpty: Boolean = ren.isEmpty && retired.isEmpty
    /** The user-facing name of physical column `phys`. */
    def logicalOf(phys: String): String = ren.getOrElse(phys, phys)
  }

  object ColMap {
    val empty: ColMap = ColMap(Map.empty, Nil)

    private def mapper = new com.fasterxml.jackson.databind.ObjectMapper()

    /** One-line JSON: `{"ren":{"<phys>":"<logical>"},"retired":[...]}`.
      * Jackson escapes control characters inside names, so the line
      * can never shear the manifest (the schema-line rationale);
      * deterministic key order so byte-equal states encode equal. */
    def encode(cm: ColMap): String = {
      val root = mapper.createObjectNode()
      val r = root.putObject("ren")
      cm.ren.toSeq.sortBy(_._1).foreach { case (p, l) => r.put(p, l) }
      val a = root.putArray("retired")
      cm.retired.foreach(a.add)
      mapper.writeValueAsString(root)
    }

    def decode(json: String, version: Long): ColMap =
      try {
        val root = mapper.readTree(json)
        require(root.isObject && root.has("ren") && root.has("retired") &&
          root.get("ren").isObject && root.get("retired").isArray)
        val ren = scala.collection.mutable.Map.empty[String, String]
        root.get("ren").fields().forEachRemaining { e =>
          require(e.getValue.isTextual); ren += e.getKey -> e.getValue.asText()
        }
        val retired = Seq.newBuilder[String]
        root.get("retired").forEach { n =>
          require(n.isTextual); retired += n.asText()
        }
        ColMap(ren.toMap, retired.result())
      } catch {
        case scala.util.control.NonFatal(_) =>
          throw new IllegalArgumentException(
            s"manifest v$version colmap line is not a {ren, retired} JSON " +
              "object — foreign or hand-edited content")
      }
  }

  /** The PHYSICAL→LOGICAL projection at the public read boundary —
    * identity (the very same frame, zero plan delta) on unmapped
    * tables. Catalyst pushes predicates and pruning straight through
    * the aliasing Project, so logical-name filters still reach the
    * parquet scan (and the manifest stat pruners, which speak physical
    * names) untouched. */
  private def presentLogical(df: DataFrame, cm: ColMap): DataFrame =
    if (cm.ren.isEmpty) df
    else df.select(df.columns.map(c => col(c).as(cm.logicalOf(c))): _*)

  /** `df` (PHYSICAL names under `cm`) without the rows predicate `where`
    * (LOGICAL names) holds on; a NULL verdict keeps the row. Evaluated
    * over the logical view ([[presentLogical]]) and projected back to
    * the physical names. */
  private[sources] def without(
      df: DataFrame, cm: ColMap, where: Option[Column]): DataFrame =
    where.fold(df) { c =>
      val kept = presentLogical(df, cm).filter(!coalesce(c, lit(false)))
      if (cm.ren.isEmpty) kept
      else kept.select(df.columns.toSeq.map(p => col(cm.logicalOf(p)).as(p)): _*)
    }

  /** The LOGICAL→PHYSICAL translation at the writer boundary: rename
    * the incoming frame's columns into the table's physical namespace
    * and translate the key columns. A frame column naming no live
    * logical is a NEW column (the evolution path downstream decides
    * whether to accept it): its physical name is its logical name
    * unless that name was EVER used physically — live OR retired, a
    * case-insensitive check because the manifest outlives any one
    * session's case sensitivity — in which case a fresh suffixed name
    * is assigned and recorded in the returned (extended) mapping, so
    * re-adding a dropped column can never resurrect the old data.
    * Identity on unmapped tables with no retired names: the very same
    * frame. */
  private[sources] def inbound(
      cm: ColMap, schema0: org.apache.spark.sql.types.StructType,
      df: DataFrame, keyCols: Seq[String])
    : (DataFrame, Seq[String], ColMap) = {
    if (cm.isEmpty) return (df, keyCols, cm)
    val l2p: Map[String, String] =
      schema0.fields.map(f => cm.logicalOf(f.name) -> f.name).toMap
    var used = (schema0.fieldNames.toSeq ++ cm.retired)
      .map(_.toLowerCase).toSet
    var cm2 = cm
    // new LOGICAL names accepted earlier in THIS batch: two case-variant
    // new columns (e.g. 'Score' then 'score') must collide here — the
    // physical suffixing below would otherwise reroute the second to a
    // fresh physical name, conformedSchema's fresh-vs-fresh check would
    // see distinct physical names and pass, and the commit would record
    // two live logicals differing only by case (review catch, r17)
    var newLogicals = List.empty[String]
    val mapped = df.columns.toSeq.map { c =>
      l2p.get(c) match {
        case Some(p) => c -> p
        case None =>
          // NEW logical name: refuse a case-insensitive collision with
          // a LIVE logical — conformedSchema's cross-session guard sees
          // only physical names on a mapped table, so the logical-side
          // check must happen here or `title`/`TITLE` could both commit
          // and brick every case-insensitive session (review catch, r16)
          (l2p.keys ++ newLogicals).find(_.equalsIgnoreCase(c))
            .foreach(existing =>
              throw new IllegalArgumentException(
                s"new column '$c' collides with existing column " +
                  s"'$existing' ignoring case; the manifest outlives any " +
                  "one session's case sensitivity"))
          newLogicals ::= c
          var p = c; var n = 0
          while (used.contains(p.toLowerCase)) { n += 1; p = s"${c}_$n" }
          used += p.toLowerCase
          if (p != c) cm2 = cm2.copy(ren = cm2.ren + (p -> c))
          c -> p
      }
    }
    val out =
      if (mapped.forall { case (l, p) => l == p }) df
      else df.select(mapped.map { case (l, p) => col(l).as(p) }: _*)
    val pKeys = keyCols.map(k => l2p.getOrElse(k, {
      // a renamed-away physical name is NOT addressable (the
      // physicalNameOf refusal): silently honoring it would key the
      // write on a column the caller just renamed, under its old name
      require(!cm.ren.contains(k),
        s"column '$k' was renamed to '${cm.ren(k)}' — key by the new name")
      k
    }))
    (out, pKeys, cm2)
  }

  /** @param filesRewritten files of the previous version REPLACED
    *        (hit by a matched key / delete predicate) — the Delta
    *        numTargetFilesRemoved analog; rewrite cost is proportional
    *        to this, not to the table size
    * @param filesWritten new files committed for the replacement rows
    *        (sized to match filesRewritten — see the coalesce in
    *        rewriteMerge — so continuous upserts don't fragment the
    *        table) */
  final case class MergeStats(
      version: Long, filesKept: Long, filesRewritten: Long,
      filesWritten: Long, rowsUpserted: Long)

  /** Thrown when a writer lost [[CommitAttempts]] optimistic commits in
    * a row to concurrent writers ([[transact]]); a compaction, which
    * rewrites the whole table, throws it at its first lost race. */
  final class CommitConflict(msg: String) extends RuntimeException(msg)

  /** Attempts [[transact]] gives a writer before [[CommitConflict]]. */
  private[graft] val CommitAttempts = 5

  /** Re-validations [[commitOrRebase]] gives a lost append. */
  private[graft] val RebaseAttempts = 3

  /** Target rows per data file for insert-only merge batches (~100-200
    * MB parquet at typical document-row widths). */
  private[sources] val InsertRowsPerFile = 4000000L

  /** The concurrency grace shared by [[vacuum]]'s default retention and
    * the stranded-temp sweeps: files younger than this may belong to a
    * writer whose commit is about to win, so they are never reclaimed. */
  val DefaultRetainMillis: Long = 15L * 60L * 1000L


  private[sources] def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestDir(root: Path) = new Path(root, "_manifests")

  /** Scheme-free absolute path — `input_file_name()` and `listStatus`
    * render the same file with different authorities (`file:/` vs
    * `file:///`), so comparisons use [[Manifests.normalizePath]]. */
  private[sources] def normalize(s: String): String = Manifests.normalizePath(s)

  /** Create the table at `path` from `df` (version 1). Fails if a
    * manifest already exists.
    *
    * `bloomKeys` enables a parquet BLOOM FILTER on each named column,
    * persisted as a table property so EVERY later write (merge,
    * deleteWhere, compact) maintains it. This is the file-skipping
    * story for HASH-VALUED keys (content_hash, band buckets, md5
    * fingerprints — the reference's `UNIQUE content_hash` btree,
    * `Supabase/knowledge_base-RAG.sql:8,35-40`): min/max stats are
    * useless on a uniform hash domain (every file's range covers every
    * probe) — and that is all a pushed Eq/In predicate can consult
    * without them — so a point lookup opens every row group at any
    * scale. Filters are sized ADAPTIVELY to each row group's
    * observed ndv (the writer keeps the smallest of its candidate
    * filters meeting the 1% fpp target; setting an explicit
    * expected-ndv would DISABLE that and pin every chunk at the
    * ndv-implied size — measured +28% table bytes vs +2% adaptive on
    * the same data), capped at parquet.bloom.filter.max.bytes (1 MB,
    * <1% of a 128 MB row group) — for a measured 176x row-group skip
    * on equality probes (BloomLookupScaleDemo). */
  def init(
      spark: SparkSession, path: String, df: DataFrame,
      bloomKeys: Seq[String] = Nil): Snapshot = {
    val (fs, root) = fsOf(spark, path)
    Manifests.requireRoundTrippableRoot(fs, root, "merge-table")
    require(latestVersion(fs, root).isEmpty, s"merge table already exists at $path")
    graft.util.ParquetBloom.requireCols(df.columns, bloomKeys, "the table schema")
    if (bloomKeys.nonEmpty) writeBloomProps(fs, root, bloomKeys)
    else requireNoForeignBloom(fs, root)
    val files = writeBatch(spark, fs, root, df)
    // asNullable: file-backed reads render every column nullable, so
    // the recorded schema must agree with what a probe would have said
    commit(fs, root,
      Snapshot(1L, files, schemaJson = Some(asNullableSchema(df.schema).json)))
  }

  /** Zero-copy CLONE (Delta SHALLOW CLONE, miniature): `dst` becomes a
    * new table whose v1 manifest references `src`'s CURRENT files —
    * base, delta, and suppression scope carried verbatim — so branching
    * a 100 TB table is one manifest write, no data copied. The branch
    * is then fully independent: merges/deletes/compactions on either
    * side commit to their OWN manifest log, and writes land under
    * their own `data/` directory (a clone's vacuum lists only its own
    * directory, so it can never reclaim source files, and vice versa —
    * safe by construction, not by bookkeeping).
    *
    * LIFETIME CAVEAT (same as Delta's shallow clone): the shared files
    * live under `src`'s retention. While `src`'s tip still references
    * them they are safe from its vacuum; once `src` rewrites or
    * compacts them away they become reclaimable there, and this
    * clone's reads then fail with file-not-found. A clone meant to
    * outlive the source's churn should be materialized — one
    * [[compactTable]] on the clone rewrites everything into its own
    * files and severs the dependency.
    *
    * The source's bloom CONFIG is copied (future writers on the clone
    * maintain the same filters); its data files already carry them. */
  def cloneTable(spark: SparkSession, src: String, dst: String): Snapshot =
    cloneTableAt(spark, src, dst, None)

  /** [[cloneTable]] pinned at a committed `atVersion` (tip when None) —
    * branch the table AS OF an older version without materializing it
    * first. The lifetime caveat above applies more sharply: a pinned
    * version's files may already be superseded at the source's tip, so
    * they are vacuum-reclaimable there the moment the source's grace
    * expires — materialize (compact) a pinned clone promptly unless
    * the source's vacuum is known quiet. */
  def cloneTableAt(
      spark: SparkSession, src: String, dst: String,
      atVersion: Option[Long]): Snapshot = {
    val (dstFs, dstRoot) = fsOf(spark, dst)
    val (srcFs, srcRoot) = fsOf(spark, src)
    require(normalize(srcRoot.toString) != normalize(dstRoot.toString),
      s"clone source and destination are the same table: $src")
    Manifests.requireRoundTrippableRoot(dstFs, dstRoot, "merge-table")
    require(latestVersion(dstFs, dstRoot).isEmpty,
      s"merge table already exists at $dst")
    val snap = atVersion.map(snapshotAt(spark, src, _))
      .getOrElse(snapshot(spark, src))
    val bloom = readBloomProps(srcFs, srcRoot)
    if (bloom.nonEmpty) writeBloomProps(dstFs, dstRoot, bloom)
    // a bloom-less source must not let the clone silently adopt a
    // leftover destination config a crashed/raced earlier init left —
    // the same refusal init(bloomKeys = Nil) makes (and a TORN leftover
    // fails loudly HERE, at creation, not on the clone's first write)
    else requireNoForeignBloom(dstFs, dstRoot)
    // a legacy size-less or schema-less source upgrades once, here (the
    // sizes stat'ed on the SOURCE's filesystem): the clone starts on the
    // zero-listing read path with zero-IO opens and a pinned,
    // evolution-ready schema — returned as committed, so the caller's
    // snapshot agrees with disk
    commit(dstFs, dstRoot, snap.copy(version = 1L,
      entries = withSizes(srcFs, snap.entries),
      delta = withSizes(srcFs, snap.delta), deletes = withSizes(srcFs, snap.deletes),
      schemaJson = Some(asNullableSchema(tableSchemaOf(spark, snap)).json)))
  }

  /** The refusal [[init]] (no keys) and [[cloneTable]] (bloom-less
    * source) share: a leftover `_bloom.properties` from a crashed or
    * raced keyed init must not be silently adopted as this table's
    * config (writeBatch reads and applies whatever the file says) —
    * the same different-columns IllegalStateException writeBloomProps
    * raises, with "none" as the requested set. */
  private def requireNoForeignBloom(fs: FileSystem, root: Path): Unit = {
    val have = readBloomProps(fs, root)
    if (have.nonEmpty) throw new IllegalStateException(
      s"bloom config at ${bloomPropsPath(root)} already exists with columns " +
        s"[${have.mkString(",")}] but this table requested none — a failed or " +
        "concurrent init used other keys; delete the path deliberately to " +
        "change a table's bloom columns")
  }

  /** The persisted bloom-filter columns of the table at `path` (empty
    * when the table was initialized without any). */
  def bloomConfig(spark: SparkSession, path: String): Seq[String] = {
    val (fs, root) = fsOf(spark, path)
    readBloomProps(fs, root)
  }

  /** One-time migration for a bloom config written by a PRE-TERMINATOR
    * version of this format: validates the column list against the
    * table's current schema and republishes it closed by the `#end`
    * sentinel, after which every reader accepts it. Idempotent — an
    * already-terminated config returns unchanged. Returns the adopted
    * columns.
    *
    * The CALLER asserts completeness: a torn prefix of a real config is
    * byte-indistinguishable from a complete terminator-less one (which
    * is exactly why [[readBloomProps]] fails closed), and the schema
    * check here can only refuse clearly-foreign content (a name no
    * table column has) — it cannot prove no trailing column was lost.
    * Run it only when the intended column list is known.
    *
    * Publication: on the local filesystem the replacement is ONE atomic
    * rename over the target (readers see the old or the new bytes,
    * never torn, never absent). On filesystems whose
    * `FileSystem.rename` refuses an existing destination (HDFS-like),
    * the replace is delete-then-rename with a crash window that leaves
    * the config ABSENT — run it in a maintenance window there; recovery
    * is re-creating the file from the same known column list the adopt
    * required. */
  def adoptBloomConfig(spark: SparkSession, path: String): Seq[String] = {
    val (fs, root) = fsOf(spark, path)
    val target = bloomPropsPath(root)
    require(fs.exists(target), s"no bloom config at $target to adopt")
    val in = fs.open(target)
    val text =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val lines = text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
    if (lines.lastOption.contains(BloomTerminator)) return lines.init // adopted already
    require(lines.nonEmpty,
      s"bloom config at $target is empty — nothing to adopt; delete the " +
        "file deliberately for a bloom-less table")
    lines.foreach(c => require(!c.startsWith("#") && !c.contains("\t"),
      s"bloom config at $target holds a line that is not a plausible " +
        s"column name ('$c') — foreign content, not a legacy config"))
    // refuse clearly-foreign content: every adopted name must be a
    // column of the table as it stands (read() binds the manifest's
    // recorded schema, so this sees evolved columns too)
    val tableCols = read(spark, path).schema.map(_.name).toSet
    lines.filterNot(tableCols.contains) match {
      case Nil => ()
      case bad => throw new IllegalArgumentException(
        s"bloom config at $target names column(s) [${bad.mkString(",")}] " +
          s"absent from the table schema [${tableCols.toSeq.sorted.mkString(",")}] " +
          "— foreign or stale content; recover the intended list instead " +
          "of adopting this file")
    }
    Manifests.publishReplace(fs, target, "._bloom_adopt_",
      (lines.mkString("", "\n", "\n") + BloomTerminator + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    lines
  }

  /** True when a committed merge table exists at `path`. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = fsOf(spark, path)
    latestVersion(fs, root).isDefined
  }

  /** The table as of its latest committed version. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val snap = snapshot(spark, path)
    presentLogical(logicalFrame(spark, snap), snap.colMap)
  }

  /** The latest committed snapshot, via [[Manifests.latestLines]]'s
    * swept-tip retry. The retry covers the MANIFEST read only: the
    * snapshot's data files carry the documented retention contract
    * instead (a query outliving the vacuum grace on a superseded
    * version can lose files mid-scan — Delta's VACUUM has the same
    * age-keyed property; size the grace to the longest in-flight
    * query). */
  def snapshot(spark: SparkSession, path: String): Snapshot = {
    val (fs, root) = fsOf(spark, path)
    val (v, lines) = Manifests.latestLines(fs, manifestDir(root))(
      throw new IllegalArgumentException(s"no merge table at $path"))
    decodeLines(lines, v)
  }

  /** Manifest line codec: `<path>\t<size>` for base data files; a line
    * without the tab is a legacy size-less entry (size −1 →
    * [[relationFor]] takes the listing path for the whole snapshot);
    * `delta\t<path>\t<size>` for [[mergeLite]] delta files,
    * `ddel\t<path>\t<size>` for [[deleteLite]] key-tombstone files,
    * `dvkeys\t<k1,k2>` for their key columns, and the suppression
    * scope as a `dvfiles\t<n>` header followed by n `dvfile\t<path>`
    * lines naming the touched base files (header absent = legacy
    * unscoped manifest, suppression over every base file; header
    * present with n=0 = a proven insert-only delta). The count header
    * is what distinguishes "scoped to nothing" from "never scoped",
    * and a foreign edit that drops or duplicates scope lines fails the
    * count check loudly instead of silently widening or narrowing the
    * suppression. The tag tokens can never collide with a data path —
    * stored paths are URI forms, which always carry a scheme or a
    * leading '/'. [[Manifests]] itself
    * stays content-agnostic — other layers (the IVF layout,
    * CompositeIndex) store their own line formats in the same commit
    * primitive.
    *
    * READER-VERSION CONTRACT: the codec is append-only but FORWARD
    * only — a reader must be at least as new as the table's newest
    * writer. An older reader decodes an unknown tagged line
    * (`schema\t`, `statcolhex\t`) as a phantom size-less entry and
    * fails the subsequent read with a path error, not a clean
    * protocol refusal; the v1 format shipped without a version line,
    * and retrofitting one would break old readers identically, so the
    * deployment rule is upgrade-readers-first (Delta's
    * minReaderVersion, by convention instead of enforcement). */
  // private[graft]: the IVF layout (GraftSession) shares the
  // `path\tsize` entry codec for its own manifest lines
  private[graft] def encodeEntry(e: FileEntry): String =
    if (e.size >= 0) e.path + "\t" + e.size else e.path

  /** A column name the stat-line codec can store AND read back
    * unambiguously. Tab/CR/LF would shear the line (the dvkeys
    * rationale); ':' anywhere or a leading '/' would make the DECODER
    * classify the line as a legacy (column-less, path-first) stat line
    * — `decodeLines` distinguishes the two formats by exactly that
    * content sniff, because stored paths are URI forms (always a
    * scheme or a leading '/') while column names never are. Without
    * this guard a compaction on a column named `a:b` would COMMIT
    * successfully and then every later snapshot() would throw on its
    * own manifest — the table-bricking failure mode the legacy-decode
    * comments exist to avoid (review catch, r14 ADVICE). Shared by
    * [[encodeSnapshot]] (the backstop) and [[establishStats]] (which
    * skips such columns up front, before any data file is written). */
  private def statColEncodable(c: String): Boolean =
    !c.exists(ch => ch == '\t' || ch == '\n' || ch == '\r') &&
      !c.contains(':') && !c.startsWith("/")

  private val DeltaTag = "delta\t"
  // deleteLite key files — read-side tombstone keys with no row payload
  private val DDelTag = "ddel\t"
  private val DvKeysTag = "dvkeys\t"
  // the version's complete suppression key VALUES (Snapshot.dvLits)
  private val DvLitsTag = "dvlits\t"
  private val DvFilesTag = "dvfiles\t"
  private val DvFileTag = "dvfile\t"
  private val StatColTag = "statcol\t"
  // hex-domain string stats column ("statcolhex\t" does not prefix-
  // collide with "statcol\t": the 8th char differs). Its stat lines
  // share the numeric codec — bounds are the hexBound encodings.
  private val StatColHexTag = "statcolhex\t"
  private val StatTag = "stat\t"
  private val SchemaTag = "schema\t"
  // column mapping: physical->logical renames + retired physical names
  private val ColMapTag = "colmap\t"

  /** The dvlits line payload: one JSON array, deterministically sorted
    * (byte-equal states encode equal — the ColMap convention; integrals
    * normalize to JSON numbers, so a type-widened key re-encodes
    * unchanged). Jackson escapes control characters inside strings, so
    * the line can never shear the manifest. */
  private[graft] def encodeDvLits(
      vals: Seq[Any], dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val a = m.createArrayNode()
    dt match {
      case StringType =>
        vals.map(_.asInstanceOf[String]).sorted.foreach(a.add)
      case BooleanType =>
        vals.map(_.asInstanceOf[Boolean]).sorted.foreach(a.add)
      case ByteType | ShortType | IntegerType | LongType =>
        vals.map(_.asInstanceOf[Number].longValue).sorted.foreach(a.add)
      case other => throw new IllegalArgumentException(
        s"dvlits cannot encode key type ${other.catalogString}")
    }
    m.writeValueAsString(a)
  }

  /** Decode of [[encodeDvLits]]: values re-typed by the RECORDED key
    * column type, so `lit(v)` rebuilds literals of exactly the column's
    * type (the [[KeySet.Literals]] convention). Anything malformed
    * is foreign or hand-edited content — refused loudly, like every
    * other manifest line. */
  private def decodeDvLits(
      json: String, dt: org.apache.spark.sql.types.DataType,
      version: Long): Seq[Any] =
    try {
      import org.apache.spark.sql.types._
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      require(root.isArray)
      val out = Seq.newBuilder[Any]
      root.forEach { n =>
        out += (dt match {
          case StringType =>
            require(n.isTextual); n.asText()
          case BooleanType =>
            require(n.isBoolean); java.lang.Boolean.valueOf(n.asBoolean())
          case LongType =>
            require(n.isIntegralNumber && n.canConvertToLong)
            java.lang.Long.valueOf(n.asLong())
          case IntegerType =>
            require(n.isIntegralNumber && n.canConvertToInt)
            java.lang.Integer.valueOf(n.asInt())
          case ShortType =>
            require(n.isIntegralNumber && n.canConvertToInt)
            val v = n.asInt()
            require(v >= Short.MinValue && v <= Short.MaxValue)
            java.lang.Short.valueOf(v.toShort)
          case ByteType =>
            require(n.isIntegralNumber && n.canConvertToInt)
            val v = n.asInt()
            require(v >= Byte.MinValue && v <= Byte.MaxValue)
            java.lang.Byte.valueOf(v.toByte)
          case other => throw new IllegalArgumentException(
            s"dvlits cannot bind key type ${other.catalogString}")
        })
      }
      out.result()
    } catch {
      case scala.util.control.NonFatal(_) =>
        throw new IllegalArgumentException(
          s"manifest v$version dvlits line is not a typed JSON array of " +
            "key values — foreign or hand-edited content")
    }

  /** The manifest lines of `s` (its version is the commit's claim, not
    * a line). Called only by [[commit]], so every writer's state passes
    * the same invariants: most writers derive the next version from
    * their snapshot by `copy`, carrying the column mapping and the
    * suppression literals unless they deliberately change them. */
  private def encodeSnapshot(s: Snapshot): Seq[String] = {
    import s._
    require((delta.isEmpty && deletes.isEmpty) == dvKeys.isEmpty,
      "row-level files (delta/deletes) and dvKeys must be committed together")
    require(dvFiles.isEmpty || delta.nonEmpty || deletes.nonEmpty,
      "a suppression scope (dvFiles) requires row-level state")
    // dvlits invariants: a literal set without row-level state (or
    // beyond the point-probe budget) has no meaning — the writer-side
    // KeySet.dvLitsAfter gate should never produce one, so reaching here is a
    // bug worth failing the commit on, not recording
    val dvLitsLine: Seq[String] = dvLits match {
      case None => Nil
      case Some(ls) =>
        require(delta.nonEmpty || deletes.nonEmpty,
          "suppression literals (dvLits) require row-level state")
        require(dvKeys.size == 1,
          "suppression literals require a single key column")
        require(ls.nonEmpty && ls.size <= KeySet.DiscoveryInLimit,
          s"suppression literal set must be nonempty and within the " +
            s"${KeySet.DiscoveryInLimit} point-probe budget (got ${ls.size})")
        require(schemaJson.isDefined,
          "suppression literals require a recorded schema line")
        val st = org.apache.spark.sql.types.DataType.fromJson(schemaJson.get)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        val f = st.find(_.name == dvKeys.head).getOrElse(
          throw new IllegalArgumentException(
            s"dvlits key column ${dvKeys.head} missing from the recorded " +
              "schema"))
        val j = encodeDvLits(ls, f.dataType)
        require(!j.exists(c => c == '\t' || c == '\n' || c == '\r'),
          "dvlits JSON must be a single tab-free manifest line")
        Seq(DvLitsTag + j)
    }
    stats.foreach(s => require(statColEncodable(s.col),
      s"stats column name not encodable in the manifest: '${s.col}'"))
    require(stats.map(_.col).distinct.size == stats.size,
      "duplicate stats column")
    // compact StructType JSON escapes control characters inside names
    // (\t, \n render as two-char sequences), so the line can only be
    // sheared by a hand-built non-JSON payload — refused here
    schemaJson.foreach(j => require(
      !j.exists(c => c == '\t' || c == '\n' || c == '\r'),
      "schema JSON must be a single tab-free manifest line"))
    require(colMap.isEmpty || schemaJson.isDefined,
      "a column mapping requires a recorded schema line")
    val cmLine = if (colMap.isEmpty) Nil else {
      val j = ColMap.encode(colMap)
      require(!j.exists(c => c == '\t' || c == '\n' || c == '\r'),
        "colmap JSON must be a single tab-free manifest line")
      Seq(ColMapTag + j)
    }
    schemaJson.map(SchemaTag + _).toSeq ++ cmLine ++
      entries.map(encodeEntry) ++
      stats.flatMap(s =>
        ((if (s.hex) StatColHexTag else StatColTag) + s.col) +:
          s.ranges.toSeq.sortBy(_._1).map {
            case (p, (lo, hi)) => s"$StatTag${s.col}\t$p\t$lo\t$hi"
          }) ++
      (if (delta.isEmpty && deletes.isEmpty) Nil
       else (DvKeysTag + dvKeys.mkString(",")) +:
         (dvLitsLine ++
          dvFiles.toSeq.flatMap(fs =>
            (DvFilesTag + fs.size) +: fs.map(DvFileTag + _)) ++
          delta.map(e => DeltaTag + encodeEntry(e)) ++
          deletes.map(e => DDelTag + encodeEntry(e))))
  }

  /** Test seam for the encode backstop ([[statColEncodable]]): the
    * spec drives the refusal directly — no public writer can reach it
    * since [[establishStats]] filters such names first. */
  private[graft] def encodeSnapshotForTest(
      entries: Seq[FileEntry], stats: Seq[TableStats]): Seq[String] =
    encodeSnapshot(Snapshot(0L, entries, stats = stats))

  private def decodeLines(lines: Seq[String], version: Long): Snapshot = {
    val entries = Seq.newBuilder[FileEntry]
    val delta = Seq.newBuilder[FileEntry]
    val deletes = Seq.newBuilder[FileEntry]
    val dvFiles = Seq.newBuilder[String]
    val statRanges = Seq.newBuilder[(String, String, (Long, Long))]
    val legacyStatRanges = Seq.newBuilder[(String, (Long, Long))]
    var dvKeys: Seq[String] = Nil
    var dvLitsJson: Option[String] = None
    var dvCount: Option[Int] = None
    var statCols: Vector[(String, Boolean)] = Vector.empty // (name, hex)
    var schemaJson: Option[String] = None
    var colMap: Option[ColMap] = None
    def declareStatCol(c: String, hex: Boolean): Unit = {
      require(!statCols.exists(_._1 == c),
        s"manifest v$version declares stats column '$c' twice — " +
          "foreign or hand-edited content")
      statCols = statCols :+ (c -> hex)
    }
    def parseLong(s: String, what: String): Long =
      // the FULL Long range: footer min/max of a hashed/snowflake 64-bit
      // key routinely exceeds 18 digits, and refusing it here would
      // brick the table on its own committed manifest
      try java.lang.Long.parseLong(s)
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"manifest v$version $what is not a number: '$s'")
      }
    lines.foreach { line =>
      if (line.startsWith(DeltaTag))
        delta += decodeEntry(line.substring(DeltaTag.length))
      else if (line.startsWith(DDelTag))
        deletes += decodeEntry(line.substring(DDelTag.length))
      else if (line.startsWith(StatColHexTag))
        declareStatCol(line.substring(StatColHexTag.length), hex = true)
      else if (line.startsWith(StatColTag))
        declareStatCol(line.substring(StatColTag.length), hex = false)
      else if (line.startsWith(StatTag)) {
        // stat\t<col>\t<path>\t<lo>\t<hi> — the column leads (it can
        // never contain a tab, enforced at encode), the path is the
        // middle (URI-encoded, tab-free), bounds close the line.
        // LEGACY (single-column era): stat\t<path>\t<lo>\t<hi> — the
        // first field is then a PATH, distinguishable unambiguously
        // because stored paths are URI forms that always carry a
        // scheme or a leading '/' while column names never do (the
        // tag-collision rationale above); such lines bind to the
        // manifest's sole declared statcol.
        val body = line.substring(StatTag.length)
        val c = body.indexOf('\t')
        val j = body.lastIndexOf('\t')
        val i = if (j > 0) body.lastIndexOf('\t', j - 1) else -1
        require(c > 0 && i >= c,
          s"manifest v$version stat line is torn or hand-edited: '$line'")
        val first = body.substring(0, c)
        val legacy = first.contains(':') || first.startsWith("/")
        require(!legacy || i > 0,
          s"manifest v$version stat line is torn or hand-edited: '$line'")
        require(legacy || i > c,
          s"manifest v$version stat line is torn or hand-edited: '$line'")
        val lo = parseLong(body.substring(i + 1, j), "stat lo")
        val hi = parseLong(body.substring(j + 1), "stat hi")
        // an INVERTED range would silently prune live rows — the same
        // silent-row-drop the unknown-path refusal below guards against
        require(lo <= hi,
          s"manifest v$version stat range is inverted ($lo > $hi): '$line'")
        if (legacy) legacyStatRanges += ((body.substring(0, i), (lo, hi)))
        else statRanges += ((first, body.substring(c + 1, i), (lo, hi)))
      } else if (line.startsWith(DvKeysTag))
        dvKeys = line.substring(DvKeysTag.length).split(",").toSeq
      else if (line.startsWith(DvLitsTag)) {
        require(dvLitsJson.isEmpty,
          s"manifest v$version carries two dvlits lines — foreign or " +
            "hand-edited content")
        dvLitsJson = Some(line.substring(DvLitsTag.length))
      }
      else if (line.startsWith(DvFilesTag)) {
        require(dvCount.isEmpty,
          s"manifest v$version carries two dvfiles headers — foreign or " +
            "hand-edited content")
        val s = line.substring(DvFilesTag.length)
        require(s.nonEmpty && s.length <= 9 && s.forall(_.isDigit),
          s"manifest v$version dvfiles header is not a count: '$line'")
        dvCount = Some(s.toInt)
      } else if (line.startsWith(DvFileTag))
        dvFiles += line.substring(DvFileTag.length)
      else if (line.startsWith(SchemaTag)) {
        require(schemaJson.isEmpty,
          s"manifest v$version carries two schema lines — foreign or " +
            "hand-edited content")
        val j = line.substring(SchemaTag.length)
        // validate HERE, at decode, so a corrupted schema line fails
        // the snapshot read loudly instead of surfacing as a json4s
        // stack trace from deep inside some later relation build
        try {
          val dt = org.apache.spark.sql.types.DataType.fromJson(j)
          require(dt.isInstanceOf[org.apache.spark.sql.types.StructType] &&
            dt.asInstanceOf[org.apache.spark.sql.types.StructType].nonEmpty)
        } catch {
          case scala.util.control.NonFatal(_) =>
            throw new IllegalArgumentException(
              s"manifest v$version schema line is not a StructType JSON — " +
                "foreign or hand-edited content")
        }
        schemaJson = Some(j)
      }
      else if (line.startsWith(ColMapTag)) {
        require(colMap.isEmpty,
          s"manifest v$version carries two colmap lines — foreign or " +
            "hand-edited content")
        colMap = Some(ColMap.decode(line.substring(ColMapTag.length), version))
      }
      else {
        // UNKNOWN-TAG refusal (the enforceable half of the reader-
        // version contract): a future codec generation's tag would
        // otherwise decode as a phantom size-less entry and fail much
        // later with a confusing path error. Stored paths are URI
        // forms — always a scheme (':') or a leading '/' — while tag
        // tokens never are, so a first field that is neither is
        // provably a tag this reader predates. Costs nothing at open
        // time (no marker file, no extra RPC) and turns the failure
        // into an actionable upgrade message.
        val tab = line.indexOf('\t')
        val first = if (tab > 0) line.substring(0, tab) else line
        if (!first.contains(':') && !first.startsWith("/"))
          throw new IllegalStateException(
            s"manifest v$version carries an unknown tag '$first' — this " +
              "table was written by a newer graft writer; upgrade the " +
              "reader (the codec is append-only, forward-compatible for " +
              "readers at or above the writer's generation)")
        entries += decodeEntry(line)
      }
    }
    val d = delta.result()
    val dels = deletes.result()
    val rowLevel = d.nonEmpty || dels.nonEmpty
    val dvf = dvFiles.result()
    require(!rowLevel || dvKeys.nonEmpty,
      s"manifest v$version carries row-level files but no dvkeys line — " +
        "foreign or hand-edited content")
    require(dvCount.isEmpty || rowLevel,
      s"manifest v$version carries a suppression scope but no row-level " +
        "files — foreign or hand-edited content")
    require(dvCount.map(_.toLong).getOrElse(0L) == dvf.size,
      s"manifest v$version suppression scope is torn or hand-edited: " +
        s"header says ${dvCount.getOrElse(0)} dvfile lines, found ${dvf.size}")
    // the documented subset invariant, enforced: a scope line naming no
    // committed base entry would silently NARROW the suppression (the
    // genuinely touched file would partition into the bare leg and its
    // superseded rows would read back) — the one scope corruption the
    // count header can't see, so it must fail here, loudly
    val es = entries.result()
    if (dvf.nonEmpty) {
      val entryNorm = es.map(e => Manifests.normalizePath(e.path)).toSet
      dvf.find(p => !entryNorm.contains(Manifests.normalizePath(p))).foreach(p =>
        throw new IllegalArgumentException(
          s"manifest v$version scope line names no base entry ('$p') — " +
            "foreign or hand-edited content"))
    }
    // legacy single-column stat lines bind to the sole declared statcol
    val legacyRows = legacyStatRanges.result()
    if (legacyRows.nonEmpty) require(statCols.size == 1,
      s"manifest v$version carries legacy (column-less) stat lines but " +
        s"${statCols.size} declared stats columns — cannot bind them")
    val rangeRows = statRanges.result() ++
      legacyRows.map(r => (statCols.headOption.map(_._1).getOrElse(""), r._1, r._2))
    // a stat line's column must be DECLARED: undeclared-column stat
    // lines are foreign content (the dvfiles-header rationale)
    rangeRows.find(r => !statCols.exists(_._1 == r._1)).foreach(r =>
      throw new IllegalArgumentException(
        s"manifest v$version stat line names undeclared column " +
          s"'${r._1}' — foreign or hand-edited content"))
    // stat lines for unknown files are refused like scope lines: a
    // foreign path here means the stats no longer describe this
    // version's files — pruning on them could silently drop live rows
    if (rangeRows.nonEmpty) {
      val known = (es ++ d ++ dels).map(e => Manifests.normalizePath(e.path)).toSet
      rangeRows.map(_._2).find(p => !known.contains(Manifests.normalizePath(p)))
        .foreach(p => throw new IllegalArgumentException(
          s"manifest v$version stat line names no data file ('$p') — " +
            "foreign or hand-edited content"))
    }
    // keyed on the NORMALIZED path: file:/x and file:///x are the same
    // file, and letting both through would make one range silently win
    // in the pruner's normalized map
    require(rangeRows.map(r => (r._1, Manifests.normalizePath(r._2)))
        .distinct.size == rangeRows.size,
      s"manifest v$version repeats a (column, file) stat line — foreign " +
        "or hand-edited content")
    val byCol = rangeRows.groupBy(_._1)
      .map { case (c, rs) => c -> rs.map(r => r._2 -> r._3).toMap }
    // column-mapping cross-checks (the scope/stat-line convention: a
    // torn or foreign mapping must fail the snapshot read loudly, not
    // mis-bind columns): every renamed physical must be a schema
    // field, logical names must stay unambiguous, and a retired name
    // colliding with a live field would resurrect dropped data
    colMap.foreach { cm =>
      require(schemaJson.isDefined,
        s"manifest v$version carries a colmap line but no schema line — " +
          "foreign or hand-edited content")
      val fields = org.apache.spark.sql.types.DataType.fromJson(schemaJson.get)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      cm.ren.keys.find(!fields.contains(_)).foreach(p =>
        throw new IllegalArgumentException(
          s"manifest v$version colmap renames unknown physical column " +
            s"'$p' — foreign or hand-edited content"))
      val logicals = fields.map(cm.logicalOf)
      require(logicals.distinct.size == logicals.size,
        s"manifest v$version colmap makes two columns share a logical " +
          "name — foreign or hand-edited content")
      cm.retired.find(fields.contains).foreach(p =>
        throw new IllegalArgumentException(
          s"manifest v$version colmap retires live physical column '$p' — " +
            "foreign or hand-edited content"))
    }
    // dvlits cross-checks (the scope/stat-line convention): the line is
    // only meaningful against row-level state, a single key column and
    // a recorded schema; a torn or foreign set could silently suppress
    // live rows, so every structural mismatch fails the read loudly
    val dvLits: Option[Seq[Any]] = dvLitsJson.map { j =>
      require(rowLevel,
        s"manifest v$version carries a dvlits line but no row-level " +
          "files — foreign or hand-edited content")
      require(dvKeys.size == 1,
        s"manifest v$version carries a dvlits line against " +
          s"${dvKeys.size} key columns — foreign or hand-edited content")
      require(schemaJson.isDefined,
        s"manifest v$version carries a dvlits line but no schema line — " +
          "foreign or hand-edited content")
      val st = org.apache.spark.sql.types.DataType.fromJson(schemaJson.get)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      val f = st.find(_.name == dvKeys.head).getOrElse(
        throw new IllegalArgumentException(
          s"manifest v$version dvlits key column '${dvKeys.head}' is not " +
            "a schema field — foreign or hand-edited content"))
      val vals = decodeDvLits(j, f.dataType, version)
      require(vals.nonEmpty && vals.size <= KeySet.DiscoveryInLimit,
        s"manifest v$version dvlits set is empty or past the " +
          s"${KeySet.DiscoveryInLimit} point-probe budget (${vals.size}) — foreign " +
          "or hand-edited content")
      vals
    }
    Snapshot(version, es, d, if (rowLevel) dvKeys else Nil,
      if (rowLevel) dvCount.map(_ => dvf) else None,
      statCols.map { case (c, hex) =>
        TableStats(c, byCol.getOrElse(c, Map.empty), hex) },
      schemaJson, dels, colMap.getOrElse(ColMap.empty), dvLits)
  }

  private[graft] def decodeEntry(line: String): FileEntry = {
    val i = line.lastIndexOf('\t')
    if (i < 0) return FileEntry(line, -1L)
    val suffix = line.substring(i + 1)
    // A foreign or hand-edited line whose tab suffix is not a size must
    // not throw a raw NumberFormatException out of snapshot(): treat it
    // as a legacy size-less entry (the WHOLE line as the path). Our own
    // writers can never produce such a line (stored paths URI-encode a
    // literal tab as %09), so the later read fails with a not-found
    // error naming the full offending line — the diagnosable failure.
    // length <= 18 keeps the all-digits parse inside Long range.
    if (suffix.nonEmpty && suffix.length <= 18 && suffix.forall(_.isDigit))
      FileEntry(line.substring(0, i), suffix.toLong)
    else FileEntry(line, -1L)
  }

  /** Spark types whose parquet footer min/max are EXACTLY long-ordered
    * — the safety boundary of manifest stats pruning. Strings are out
    * of THIS path (parquet orders unsigned bytes, Java Strings UTF-16
    * code units — supplementary characters disagree) but get the
    * hex-domain bounds instead ([[hexLoBound]] — ASCII-hex is the
    * subdomain where the orders provably agree); INT96 timestamps
    * record no usable footer stats (write with TIMESTAMP_MICROS to
    * prune on time). */
  private[graft] def statsSupported(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** Footer-read per-file [lo, hi] for `colName` — metadata IO only
    * (one footer per file, the same class of read the schema probe
    * pays; bounded by the batch size at every call site). A file whose
    * footer lacks usable stats for the column in ANY block is omitted
    * — unprunable, always read; an all-null block contributes nothing
    * (value predicates cannot match its rows). A file whose footer
    * cannot be READ at all likewise degrades to "no stats" instead of
    * failing the commit from a pool thread: the data files are already
    * written and the commit is still correct without pruning metadata
    * for that file (the documented unprunable fallback) — a raw
    * parquet exception here would abort a finished write over an
    * optimization (review catch, r14 ADVICE).
    *
    * UNIT SAFETY (review catch, r14 ADVICE): recorded ranges must be
    * in the unit Catalyst literals use, or the pruner silently drops
    * live rows. Timestamp footers carry the file's PHYSICAL unit —
    * TIMESTAMP(MILLIS) under
    * spark.sql.parquet.outputTimestampType=TIMESTAMP_MILLIS — while
    * Catalyst timestamp literals are always MICROS, so MILLIS ranges
    * convert (×1000, exact) and any other unit (NANOS, INT96's binary
    * stats) yields no stats rather than wrong ones. Ranges a PRE-FIX
    * writer recorded on a MILLIS column are wrong in the manifest and
    * byte-indistinguishable from correct ones — a table suspected of
    * carrying them re-establishes via [[compactTable]] (no released
    * version of this library ever wrote them; recorded for
    * completeness). */
  private[graft] def collectStats(
      conf: org.apache.hadoop.conf.Configuration,
      entries: Seq[FileEntry],
      cols: Seq[(String, Boolean)]): Map[String, Map[String, (Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    // PARALLEL footer reads, ONE open per file for ALL columns (the
    // footer holds every column's block statistics): serial or
    // per-column round-trips would add latency ∝ batch × columns to
    // every commit on remote stores (the listing-job lesson)
    val out = cols.map { case (c, _) =>
      c -> new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    }.toMap
    val es = entries.toIndexedSeq
    java.util.stream.IntStream.range(0, es.size).parallel().forEach { i =>
      val e = es(i)
      try {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(e.path), conf))
        try {
          val blocks = r.getFooter.getBlocks.asScala.toSeq
          cols.foreach { case (colName, hexCol) =>
            var lo = Long.MaxValue
            var hi = Long.MinValue
            var usable = true
            blocks.foreach { b =>
              if (usable) b.getColumns.asScala
                .find(_.getPath.toDotString == colName) match {
                case Some(c) =>
                  // Catalyst-micros conversion for timestamp columns;
                  // identity for plain integrals/dates (INT32 DATE is
                  // days on both sides). None = a unit this pruner
                  // cannot represent exactly — no stats, never wrong
                  // stats.
                  val toMicros: Long => Option[Long] =
                    c.getPrimitiveType.getLogicalTypeAnnotation match {
                      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                        t.getUnit match {
                          case LogicalTypeAnnotation.TimeUnit.MICROS =>
                            v => Some(v)
                          case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                            v => try Some(Math.multiplyExact(v, 1000L))
                                 catch { case _: ArithmeticException => None }
                          case _ => _ => None // NANOS: lossy — skip
                        }
                      case _ => v => Some(v)
                    }
                  val s = c.getStatistics
                  if (s == null || s.isEmpty) usable = false
                  else if (s.hasNonNullValue) {
                    // hex string columns: bound-encode the BINARY
                    // min/max ([[hexLoBound]]); non-hex values (or a
                    // truncated-up max that left the domain) yield no
                    // stats for the file — unprunable, never wrong
                    val bounds: Option[(Long, Long)] =
                      (s.genericGetMin, s.genericGetMax) match {
                        case (mn: org.apache.parquet.io.api.Binary,
                              mx: org.apache.parquet.io.api.Binary) if hexCol =>
                          for {
                            a <- hexLoBound(mn.toStringUsingUTF8)
                            b <- hexHiBound(mx.toStringUsingUTF8)
                          } yield (a, b)
                        case (mn: java.lang.Number, mx: java.lang.Number)
                            if !hexCol =>
                          for {
                            a <- toMicros(mn.longValue)
                            b <- toMicros(mx.longValue)
                          } yield (a, b)
                        case _ => None
                      }
                    bounds match {
                      case Some((a, b)) =>
                        lo = math.min(lo, a)
                        hi = math.max(hi, b)
                      case None => usable = false
                    }
                  }
                // hasNonNullValue false with recorded stats = all-null
                // block: skip — its rows can't satisfy a value predicate
                case None => usable = false
              }
            }
            if (usable && lo <= hi) { out(colName).put(e.path, (lo, hi)); () }
          }
        } finally r.close()
      } catch {
        // unreadable footer: this file just records no stats (see doc)
        case scala.util.control.NonFatal(_) => ()
      }
    }
    out.map { case (c, m) => c -> m.asScala.toMap }
  }

  /** The stats a commit carries forward: kept entries keep their
    * recorded ranges (filtered — a stat line for a vanished path fails
    * decode validation), fresh files get footer-collected ones. */
  private[sources] def carriedStats(
      conf: org.apache.hadoop.conf.Configuration,
      snapStats: Seq[TableStats], kept: Seq[FileEntry],
      fresh: Seq[FileEntry]): Seq[TableStats] = {
    if (snapStats.isEmpty) return Nil
    val keptNorm = kept.map(e => normalize(e.path)).toSet
    val freshStats = collectStats(conf, fresh, snapStats.map(s => (s.col, s.hex)))
    snapStats.map(s => TableStats(s.col,
      s.ranges.filter { case (p, _) => keptNorm.contains(normalize(p)) } ++
        freshStats.getOrElse(s.col, Map.empty), s.hex))
  }

  /** The relation over a snapshot's entries. With recorded sizes (every
    * manifest this code writes) the relation is built from the manifest
    * alone — no listing job, no per-path stat; `spark.read.parquet`
    * over explicit paths re-stats every file, measured 17–23 s at
    * 10k–100k files (ManifestScaleDemo, since removed:
    * git show c10dac1:src/main/scala/graft/ManifestScaleDemo.scala) for
    * information the committing writer already recorded. One footer
    * read (schema of the head file — all files agree by the writer
    * invariant) is the only IO. */
  private[graft] def relationFor(
      spark: SparkSession, entries: Seq[FileEntry]): DataFrame =
    relationFor(spark, entries, Nil, None)

  private[graft] def relationFor(
      spark: SparkSession, entries: Seq[FileEntry],
      stats: Seq[TableStats]): DataFrame =
    relationFor(spark, entries, stats, None)

  /** `schemaOpt` — the manifest-recorded LOGICAL schema: on an evolved
    * table it is WIDER than an old file's physical schema (the reader
    * fills the missing columns with NULL), so every read of a file
    * SUBSET — suppression legs, hit-file rewrites, delta scans — must
    * bind to it, never to whatever the subset's head file happens to
    * carry. None = legacy manifest: probe the head file (all files
    * agree pre-evolution). */
  private[graft] def relationFor(
      spark: SparkSession, entries: Seq[FileEntry],
      stats: Seq[TableStats],
      schemaOpt: Option[org.apache.spark.sql.types.StructType]): DataFrame =
    if (entries.nonEmpty && entries.forall(_.size >= 0)) {
      val schema = schemaOpt.getOrElse(
        spark.read.parquet(entries.head.path).schema)
      // manifest stats become a planning-time FILE pruner: resolved
      // against the actual schema (name + long-ordered type) so a
      // renamed/retyped column silently disables pruning rather than
      // mis-evaluating it. Resolution uses the SESSION's resolver:
      // under spark.sql.caseSensitive=true two columns differing only
      // in case are distinct, and a case-blind match here would apply
      // one column's ranges to the other's predicates — silent row
      // loss (review catch, r14 ADVICE).
      val resolver = spark.sessionState.conf.resolver
      val pruner = stats.flatMap(s =>
        schema.find(f => resolver(f.name, s.col))
          // the recorded KIND must match the resolved type: numeric
          // ranges bind long-ordered columns, hex bounds bind strings —
          // a retyped column silently disables pruning, never misreads
          .filter(f =>
            if (s.hex) f.dataType == org.apache.spark.sql.types.StringType
            else statsSupported(f.dataType))
          .map(f => (f.name,
            s.ranges.map { case (p, r) => normalize(p) -> r }, s.hex)))
        .toSeq
      val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        new ManifestFileIndex(entries, pruner,
          spark.sessionState.conf.caseSensitiveAnalysis),
        partitionSchema = new org.apache.spark.sql.types.StructType(),
        dataSchema = schema,
        bucketSpec = None,
        fileFormat =
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
        options = Map.empty)(spark)
      spark.baseRelationToDataFrame(relation)
    } else schemaOpt match {
      // legacy size-less entries take the listing path, but an evolved
      // table's recorded schema still binds (NULL-filled old files)
      case Some(sc) => spark.read.schema(sc).parquet(entries.map(_.path): _*)
      case None => spark.read.parquet(entries.map(_.path): _*)
    }

  /** The readable frame of a snapshot. DV-free snapshots return the
    * bare base relation — the plan is bit-identical to pre-[[mergeLite]]
    * reads, so tables that only ever rewrite-merge pay ZERO read
    * overhead. With row-level state, the anti-join against the
    * version's suppression key set ([[KeySet.fromSnapshot]]: the
    * recorded dvlits as one NULL-guarded NOT-In filter at the base
    * scan — zero jobs, zero exchanges — else the delta ∪ tombstone
    * keys, broadcast) — every base row whose key a mergeLite re-wrote
    * is superseded by the delta's copy — applies ONLY to the base files
    * the manifest's suppression scope names (the files mergeLite's exact discovery
    * proved to hold a superseded row); every other base file reads
    * BARE, so the full-scan tax is proportional to the files a replay
    * actually touched, not the table (and an insert-only delta — scope
    * empty — reads with no join at all: bare base ∪ delta). Manifests
    * from before scoping landed carry no scope and suppress over every
    * base file, exactly the old plan. User predicates still push into
    * EVERY parquet scan (broadcast anti-join and union are
    * pushdown-transparent; MergeTableSpec gates the PushedFilters
    * shape). */
  private def logicalFrame(spark: SparkSession, snap: Snapshot): DataFrame = {
    val sc = snap.schema // every leg binds the SAME manifest schema
    if (!snap.rowLevel) relationFor(spark, snap.entries, snap.stats, sc)
    else {
      val deltaDf =
        if (snap.delta.isEmpty) None
        else Some(relationFor(spark, snap.delta, snap.stats, sc))
      if (snap.entries.isEmpty) deltaDf.getOrElse(
        // deletes with no base and no delta: an empty table of the
        // recorded schema (nothing left for the tombstones to suppress)
        relationFor(spark, snap.entries, snap.stats, sc))
      else {
        lazy val suppression = KeySet.fromSnapshot(spark, snap)
        def suppressed(entries: Seq[FileEntry]): DataFrame =
          suppression.anti(relationFor(spark, entries, snap.stats, sc))
        val legs = snap.dvFiles match {
          case None => Seq(suppressed(snap.entries))
          case Some(dv) =>
            val dvNorm = dv.map(normalize).toSet
            val (touched, bare) =
              snap.entries.partition(e => dvNorm.contains(normalize(e.path)))
            Seq(
              if (bare.nonEmpty) Some(relationFor(spark, bare, snap.stats, sc)) else None,
              if (touched.nonEmpty) Some(suppressed(touched)) else None).flatten
        }
        (legs ++ deltaDf.toSeq).reduce(_ unionByName _)
      }
    }
  }

  /** The key-columns StructType of `schema` in `dvKeys` order — the
    * schema of a [[deleteLite]] tombstone file, derived instead of
    * probed (zero IO; the writer projects exactly these fields). */
  private[graft] def keySchemaOf(
      schema: org.apache.spark.sql.types.StructType,
      dvKeys: Seq[String]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      dvKeys.map(k => schema.find(_.name == k).getOrElse(
        throw new IllegalStateException(
          s"delete-key column $k missing from the recorded table schema"))))

  /** The table's LOGICAL schema as of `snap`: the manifest's recorded
    * schema when present (evolution-aware, zero IO), else the head
    * file's footer (legacy manifests — all files agree by the
    * pre-evolution writer invariant). */
  private[sources] def tableSchemaOf(
      spark: SparkSession, snap: Snapshot): org.apache.spark.sql.types.StructType =
    snap.schema.getOrElse {
      val head = (snap.entries ++ snap.delta).headOption.getOrElse(
        throw new IllegalStateException(
          s"version ${snap.version} references no data files"))
      spark.read.parquet(head.path).schema
    }

  /** The table's current logical schema — public surface for callers
    * preparing update frames ([[merge]]'s cast-to-table contract).
    * Field names are the LOGICAL (user-facing) names; the recorded
    * physical schema is an internal detail of the column mapping. */
  def tableSchema(
      spark: SparkSession, path: String): org.apache.spark.sql.types.StructType = {
    val snap = snapshot(spark, path)
    val s = tableSchemaOf(spark, snap)
    if (snap.colMap.ren.isEmpty) s
    else org.apache.spark.sql.types.StructType(
      s.fields.map(f => f.copy(name = snap.colMap.logicalOf(f.name))))
  }

  /** RENAME a column — a MANIFEST-ONLY commit (Delta column mapping,
    * the rename half): the column's PHYSICAL name in every parquet
    * footer, stat line, dvkeys entry, and bloom config stays exactly
    * what it was; only the logical→physical indirection the public
    * boundary applies changes. No data file is opened, let alone
    * rewritten — a 100 TB table renames in one manifest write.
    * Version-pinned like the schema: readAt/clone/CDF at an older
    * version see the old name. Row-level merge KEYS rename freely
    * (the dvkeys line stores the physical name). Refused: renaming a
    * column that does not exist, or onto a name already live
    * (case-insensitively — the manifest outlives any one session's
    * case sensitivity), or a name the manifest line codec cannot
    * carry. Reference frame: the Supabase schema migration the
    * reference would run as `ALTER TABLE knowledge_base RENAME COLUMN`
    * (`Supabase/knowledge_base-RAG.sql`), which rewrites nothing
    * either — this is the same catalog-level operation at the file
    * layer. */
  def renameColumn(
      spark: SparkSession, path: String, from: String, to: String): Snapshot = {
    require(to.nonEmpty && to == to.trim &&
      !to.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"new column name not encodable in the manifest: '$to'")
    transact(spark, path, "renameColumn") { snap =>
      val schema0 = recordedSchema(snap, path)
      val cm = snap.colMap
      // resolve `from` with the SESSION resolver — the physicalNameOf
      // convention every other surface (compact, CDF, merge keys)
      // already honors; exact-case-only here made renameColumn refuse
      // a column the rest of the API addresses fine (review, r17)
      val phys = liveColumn(spark, schema0, cm, from)
      val curLogical = cm.logicalOf(phys)
      if (curLogical == to) snap
      else {
        val liveLogicals = schema0.fieldNames.map(cm.logicalOf)
        require(
          !liveLogicals.exists(l => l.equalsIgnoreCase(to) && l != curLogical),
          s"a column named '$to' already exists (case-insensitive — the " +
            "manifest outlives any one session's case sensitivity)")
        val (fs, root) = fsOf(spark, path)
        commit(fs, root, snap.copy(version = snap.version + 1,
          colMap = cm.copy(ren =
            if (to == phys) cm.ren - phys else cm.ren + (phys -> to))))
      }
    }
  }

  /** The recorded schema a column-mapping commit edits. */
  private def recordedSchema(
      snap: Snapshot, path: String): org.apache.spark.sql.types.StructType =
    snap.schema.getOrElse(throw new IllegalStateException(
      s"table at $path has no recorded schema line (legacy manifest) — " +
        "run one merge or compactTable first to record it"))

  /** The physical name of live column `name`, resolved LOGICALLY with the
    * session resolver. */
  private def liveColumn(
      spark: SparkSession, schema0: org.apache.spark.sql.types.StructType,
      cm: ColMap, name: String): String = {
    val resolver = spark.sessionState.conf.resolver
    schema0.fieldNames.find(p => resolver(cm.logicalOf(p), name))
      .getOrElse(throw new IllegalArgumentException(
        s"no column named '$name' (live columns: " +
          s"${schema0.fieldNames.map(cm.logicalOf).mkString(",")})"))
  }

  /** DROP a column — a MANIFEST-ONLY retirement (Delta column mapping,
    * the drop half): the recorded schema loses the field, its stat
    * lines drop, and its physical name enters the RETIRED set so a
    * later re-ADD of the same logical name gets a fresh physical name
    * and can never resurrect the dropped data (the classic
    * column-mapping trap, spec-pinned). The data itself stays in the
    * existing files — readers simply stop binding it — and is
    * reclaimed file-by-file as ordinary rewrites (merge/compact)
    * replace them; a compaction purges it wholesale. Version-pinned:
    * readAt/clone/CDF before the drop still read the column. Refused:
    * the last remaining column, a row-level merge key (fold first —
    * the state is keyed by it), a persisted bloom column (bloom config
    * is table-lifetime, the init contract), and legacy schema-less
    * manifests. */
  def dropColumn(spark: SparkSession, path: String, name: String): Snapshot =
    transact(spark, path, "dropColumn") { snap =>
      val schema0 = recordedSchema(snap, path)
      // session-resolver addressing, the renameColumn/physicalNameOf
      // convention (review, r17)
      val phys = liveColumn(spark, schema0, snap.colMap, name)
      require(schema0.length > 1, "cannot drop the table's last column")
      require(!snap.dvKeys.contains(phys),
        s"'$name' keys the table's row-level (mergeLite/deleteLite) " +
          "state — fold it first (compactTable) before dropping")
      val (fs, root) = fsOf(spark, path)
      require(!readBloomProps(fs, root).contains(phys),
        s"'$name' carries a persisted parquet bloom filter — bloom " +
          "columns are table-lifetime (the init contract) and every " +
          "writer must keep maintaining them")
      commit(fs, root, snap.copy(version = snap.version + 1,
        stats = snap.stats.filterNot(_.col == phys),
        schemaJson = Some(asNullableSchema(org.apache.spark.sql.types.StructType(
          schema0.filterNot(_.name == phys))).json),
        colMap = ColMap(snap.colMap.ren - phys, snap.colMap.retired :+ phys)))
    }

  /** ROW-LEVEL PRESSURE of a table version — the numbers that grow
    * until a fold clears them. The delta's and tombstones' key sets
    * ride a broadcast on every read, so their ROW counts are the read
    * tax (bounded by the maxDeltaRows budget, but only the budget
    * cliff forces the fold today — this surface lets maintenance act
    * BEFORE the cliff). Row counts come from parquet FOOTERS (row
    * counts are footer metadata; zero data IO), sizes and file counts
    * from the manifest alone. */
  final case class RowLevelPressure(
      version: Long,
      deltaRows: Long, deltaFiles: Int, deltaBytes: Long,
      tombstoneRows: Long, tombstoneFiles: Int, tombstoneBytes: Long,
      scopeFiles: Int, unscoped: Boolean) {
    /** What the maxDeltaRows budget counts: delta + tombstone rows. */
    def rowLevelRows: Long = deltaRows + tombstoneRows
  }

  def rowLevelPressure(spark: SparkSession, path: String): RowLevelPressure = {
    val snap = snapshot(spark, path)
    val conf = spark.sparkContext.hadoopConfiguration
    RowLevelPressure(snap.version,
      footerRowCount(conf, snap.delta), snap.delta.size,
      snap.delta.map(_.size.max(0L)).sum,
      footerRowCount(conf, snap.deletes), snap.deletes.size,
      snap.deletes.map(_.size.max(0L)).sum,
      snap.dvFiles.map(_.size)
        .getOrElse(if (snap.rowLevel) snap.entries.size else 0),
      unscoped = snap.rowLevel && snap.dvFiles.isEmpty)
  }

  /** Total row count from parquet footers — metadata-only, one open
    * per file, parallel (the collectStats convention). */
  private[sources] def footerRowCount(
      conf: org.apache.hadoop.conf.Configuration,
      entries: Seq[FileEntry]): Long = {
    if (entries.isEmpty) return 0L
    import scala.jdk.CollectionConverters._
    val es = entries.toIndexedSeq
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    java.util.stream.IntStream.range(0, es.size).parallel().forEach { i =>
      // unlike collectStats (whose per-file failures degrade to "no
      // stats" — optional data), a missing count would silently
      // UNDERREPORT pressure: fail loudly, naming the file, instead of
      // the bare ForkJoin stack a raw open would throw
      try {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(es(i).path), conf))
        try total.addAndGet(
          r.getFooter.getBlocks.asScala.map(_.getRowCount).sum): Unit
        finally r.close()
      } catch {
        case e: Exception => throw new IllegalStateException(
          s"rowLevelPressure cannot read the footer of ${es(i).path} — " +
            "a row-level file referenced by the tip manifest is " +
            "unreadable (mid-replacement or reclaimed?)", e)
      }
    }
    total.get()
  }

  /** Deliberate maintenance FOLD of the row-level state: absorb the
    * delta rows into the base, drop every tombstoned row, and commit a
    * DV-free manifest — the rewrite the budget was deferring, run on
    * the operator's schedule instead of at the budget cliff. Rewrite
    * cost ∝ the suppression scope (the scope-aware fold path), not the
    * table. A no-op on tables without row-level state. Unlike
    * [[compactTable]] this re-sorts nothing and rewrites only touched
    * files. */
  def foldRowLevel(spark: SparkSession, path: String): MergeStats =
    // the row-level writer's fold with no side, by the pinned keys,
    // against a fresh snapshot per attempt (a concurrent rename can
    // land between them). A fold that rewrites nothing proves the
    // state inert at its snapshot and clears it with a manifest-only
    // commit pinned one version past it (see RowLevel.once).
    transact(spark, path, "foldRowLevel")(RowLevel.fold(spark, path, _))

  /** One-call operational summary of the table at its tip — the
    * DESCRIBE DETAIL analog (Delta's, miniature): everything an
    * operator needs to size maintenance, all from the manifest plus
    * [[rowLevelPressure]]'s footer-metadata row counts (zero data IO).
    * Names are presented LOGICALLY (the public-surface convention);
    * `renamedColumns` maps logical→physical for the mapped subset. */
  final case class TableInfo(
      version: Long,
      baseFiles: Int, baseBytes: Long,
      schema: org.apache.spark.sql.types.StructType,
      keyColumns: Seq[String],
      renamedColumns: Map[String, String],
      retiredPhysicalColumns: Seq[String],
      statsColumns: Seq[String],
      bloomColumns: Seq[String],
      pressure: RowLevelPressure,
      manifestVersions: Int, manifestBytes: Long)

  def describe(spark: SparkSession, path: String): TableInfo = {
    val snap = snapshot(spark, path)
    val (fs, root) = fsOf(spark, path)
    // metadata pressure from the same listing trimLog/vacuum walk:
    // each manifest is a full snapshot, so on insert-only or
    // between-folds row-level lineages (where vacuum's liveness gate
    // deliberately never sweeps) these two numbers are what tells the
    // operator the LOG — not the data — is the thing growing
    val mStats = fs.listStatus(manifestDir(root)).filter(_.isFile)
      .filter { s =>
        val nm = s.getPath.getName
        nm.length > 1 && nm.startsWith("v") && nm.drop(1).forall(_.isDigit)
      }
    TableInfo(
      snap.version,
      snap.entries.size, snap.entries.map(_.size.max(0L)).sum,
      tableSchema(spark, path),
      snap.dvKeys.map(snap.colMap.logicalOf),
      snap.colMap.ren.map(_.swap),
      snap.colMap.retired,
      snap.stats.map(s => snap.colMap.logicalOf(s.col)),
      readBloomProps(fs, root).map(snap.colMap.logicalOf),
      rowLevelPressure(spark, path),
      mStats.length, mStats.map(_.getLen).sum)
  }

  /** Committed versions of the table, oldest first. */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val (fs, root) = fsOf(spark, path)
    Manifests.listVersions(fs, manifestDir(root))
  }

  /** The table as of committed `version` — time travel over the
    * manifest log. Every commit (merge, delete, compact) is a version;
    * an older version stays readable until [[vacuum]] reclaims the
    * files the LATEST manifest no longer references. */
  def readAt(spark: SparkSession, path: String, version: Long): DataFrame = {
    // the MAPPING is version-pinned like the schema: time travel to a
    // pre-rename version reads the old names
    val snap = snapshotAt(spark, path, version)
    presentLogical(logicalFrame(spark, snap), snap.colMap)
  }

  /** CHANGE DATA FEED, at churn cost: the rows upserted between
    * committed versions `fromV` (exclusive) and `toV` (inclusive) — the
    * incremental-consumption primitive (re-embed only the documents a
    * merge changed, refresh an index from a version cursor) that at
    * 100 TB cannot be "diff two full reads".
    *
    * Semantically EXACTLY `readAt(toV) EXCEPT readAt(fromV)` (bag
    * semantics coincide — keys are unique per version), but computed
    * from the manifest DIFF: a keyed write only creates/retires files,
    * never mutates one, so every row that changed lives in a file
    * ADDED since `fromV`, and its previous state (if any) lives in a
    * file RETIRED since `fromV` (a changed key's old file was hit by
    * the very merge that changed it). The scan is added ∪ retired
    * files — proportional to the CHURN, not the table. Rows carried
    * verbatim through a rewrite/compaction/fold (same key, same
    * content, new file) cancel in the join, so maintenance passes
    * report nothing. A redelivered no-op update (same content
    * re-merged) also cancels — matching the EXCEPT oracle; consumers
    * keyed on "did anything change" see exactly the changes.
    *
    * `keyCols` must be the table's merge keys (unique per version —
    * not persisted for DV-free tables, so the caller supplies them;
    * a delta-carrying version's dvKeys must agree). Both versions must
    * still be readable (vacuum retention). Cost notes: the probe side
    * also reads the CARRIED base files `toV`'s suppression scope names
    * (a mergeLite supersedes rows without retiring their files — the
    * superseded state lives there; scope files are the touched files,
    * i.e. churn) plus the small delta sets (bounded by maxDeltaRows);
    * an UNSCOPED delta version falls back to probing every carried
    * base file; a compaction between the versions churns every file —
    * the diff then IS two full scans, which is also the honest
    * answer. */
  def changesBetween(
      spark: SparkSession, path: String, fromV: Long, toV: Long,
      keyCols: Seq[String]): DataFrame = {
    val (from, to, pKeys) = diffSnapshots(spark, path, fromV, toV, keyCols)
    val fromSet = from.allFiles.map(normalize).toSet
    val toSet = to.allFiles.map(normalize).toSet
    // the feed computes on PHYSICAL names (stable across a mid-window
    // rename) and presents the END version's logical names at the end
    def outbound(df: DataFrame): DataFrame = presentLogical(df, to.colMap)
    val added = diffSide(spark, to, fromSet, Nil).getOrElse {
      val empty = logicalFrame(spark, to)
      requireDiffKeys(empty.columns, pKeys)
      return outbound(empty.limit(0)) // no new files: no changes
    }
    requireDiffKeys(added.columns, pKeys)
    val cols = added.columns.toSeq // the table's natural order, every path
    // the probe holds every key's PREVIOUS live state: rows in files
    // `from` referenced and `to` doesn't, plus — because a row-level
    // merge supersedes without retiring — `from`-live rows in the
    // carried base files `to`'s scope names (unscoped: all carried),
    // with `from`'s own delta riding along for exact suppression
    diffSide(spark, from, toSet, carriedProbeFor(from, to, toSet)) match {
      case None => outbound(added)
      case Some(retired0) =>
        // absent-or-differs: null-safe struct compare keeps a changed
        // row, drops a carried/no-op one (join keys are unique per
        // version, so the left join preserves added's row count). The
        // marker gets a fresh name (the mergeLiteOnce __hit rationale:
        // a real column by that name would make the join ambiguous)
        // and the final select restores the table's column order the
        // USING join would otherwise rearrange.
        // Across a schema WIDENING, `from`'s side lacks the new
        // columns: pad them with NULL — exactly how a pre-widening
        // FILE reads at `to` — so a carried row (new column NULL both
        // sides) still cancels and a backfilled one still reports.
        // Across a mid-window DROP, `from`'s side CARRIES the dropped
        // physical column but `added`'s schema (the to-version's)
        // lacks it — padTo projects it away, so the compare covers
        // exactly the surviving columns.
        val retired = padTo(retired0, added.schema)
        val nonKey = added.columns.filterNot(pKeys.contains).toSeq
        val was = Iterator.from(0).map("__was" + _)
          .find(!added.columns.contains(_)).get
        val probe = retired
          .select(pKeys.map(col) :+
            struct(nonKey.map(col): _*).as(was): _*)
        outbound(added.join(probe, pKeys, "left")
          .filter(!(struct(nonKey.map(col): _*) <=> col(was)))
          .select(cols.map(col): _*))
    }
  }

  /** The DELETE side of the feed: keys present at `fromV` and absent
    * at `toV` — a [[deleteWhere]] (file-churning) or a [[deleteLite]]
    * (tombstoning) between the versions — at the same churn cost.
    * Keys only — the deleted rows' content is `fromV`'s. A deleteLite
    * removes keys WITHOUT retiring their files, so both sides extend
    * by the carried files `to`'s suppression scope names (the
    * changesBetween carried-file subtlety, mirrored): the from-side
    * reads their pre-delete rows, the to-side reads them under `to`'s
    * tombstones, and the anti-join leaves exactly the vanished keys —
    * carried live rows appear on both sides and cancel. */
  def deletesBetween(
      spark: SparkSession, path: String, fromV: Long, toV: Long,
      keyCols: Seq[String]): DataFrame = {
    val (from, to, pKeys) = diffSnapshots(spark, path, fromV, toV, keyCols)
    val fromSet = from.allFiles.map(normalize).toSet
    val toSet = to.allFiles.map(normalize).toSet
    // outputs present the END version's logical key names (the
    // changesBetween convention)
    def outbound(df: DataFrame): DataFrame = presentLogical(df, to.colMap)
    // carried files matter to the DELETE side only when `to` holds
    // TOMBSTONES: a mergeLite-only window never removes a key without
    // retiring its file, so the manifest-only "nothing retired" early
    // return stays available there (review catch — gating on rowLevel
    // made every delta-window poll pay two scope-sized scans for a
    // provably empty answer)
    val carried =
      if (to.deletes.isEmpty) Nil else carriedProbeFor(from, to, toSet)
    val retired = diffSide(spark, from, toSet, carried).getOrElse {
      val empty = logicalFrame(spark, from)
      requireDiffKeys(empty.columns, pKeys)
      return outbound(empty.limit(0).select(pKeys.map(col): _*)) // nothing retired
    }
    requireDiffKeys(retired.columns, pKeys)
    val retiredKeys = retired.select(pKeys.map(col): _*)
    outbound(diffSide(spark, to, fromSet, carried) match {
      case None => retiredKeys
      case Some(added) =>
        retiredKeys.join(added.select(pKeys.map(col): _*),
          pKeys, "left_anti")
    })
  }

  /** The carried base files the probe side must ALSO read (the
    * changesBetween doc's carried-file subtlety): a mergeLite at `to`
    * supersedes rows without retiring their files, so the superseded
    * state lives in files BOTH versions reference — scoped to `to`'s
    * suppression scope when recorded, every carried file when not. */
  private def carriedProbeFor(
      from: Snapshot, to: Snapshot, toSet: Set[String]): Seq[FileEntry] =
    if (!to.rowLevel) Nil
    else {
      val carried = from.entries.filter(e => toSet.contains(normalize(e.path)))
      to.dvFiles match {
        case Some(scope) =>
          val s = scope.map(normalize).toSet
          carried.filter(e => s.contains(normalize(e.path)))
        case None => carried
      }
    }

  /** The friendly missing-key refusal every keyed entry point emits —
    * a typo'd key would otherwise die later as a raw USING-join
    * AnalysisException deep inside the diff plan. */
  private def requireDiffKeys(cols: Seq[String], keyCols: Seq[String]): Unit =
    require(keyCols.forall(cols.contains),
      s"key ${keyCols.mkString(",")} missing from table")

  /** Returns the two pinned snapshots plus the caller's key columns
    * translated to PHYSICAL names — via the END version's mapping,
    * which is correct for BOTH sides because physical names are stable
    * across renames (the whole point of the mapping: a mid-window
    * rename moves no data and changes no physical name). */
  private def diffSnapshots(
      spark: SparkSession, path: String, fromV: Long, toV: Long,
      keyCols: Seq[String]): (Snapshot, Snapshot, Seq[String]) = {
    requireKeyCols(keyCols)
    require(fromV < toV, s"diff window must go forward: v$fromV -> v$toV")
    val from = snapshotAt(spark, path, fromV)
    val to = snapshotAt(spark, path, toV)
    val pKeys = keyCols.map(physicalNameOf(spark, to, _))
    Seq(from, to).foreach(s =>
      if (s.rowLevel && s.dvKeys.toSet != pKeys.toSet)
        throw new IllegalArgumentException(
          s"version ${s.version} carries row-level state keyed by " +
            s"[${s.dvKeys.map(s.colMap.logicalOf).mkString(",")}] — " +
            "diff by the same keys"))
    (from, to, pKeys)
  }

  /** One side of the version diff as a LOGICAL frame: the snapshot's
    * live rows restricted to its files NOT in `other`, plus `extra`
    * carried files — with the snapshot's OWN key suppression applied. */
  private def diffSide(
      spark: SparkSession, s: Snapshot, other: Set[String],
      extra: Seq[FileEntry]): Option[DataFrame] = {
    val base = (s.entries.filterNot(e => other.contains(normalize(e.path))) ++
      extra).distinct
    // whenever the side holds base rows, suppression needs the FULL
    // delta key set AND the full tombstone set — a partial one would
    // resurrect superseded/deleted rows inside the side. The full delta
    // also UNIONS its rows in, possibly beyond the diff; that is
    // harmless-by-construction: a delta file on both sides contributes
    // identical rows to both, which cancel in the changes join and
    // match away in the deletes anti-join — and the row-level state is
    // bounded small (maxDeltaRows). Tombstone files contribute no rows
    // at all.
    val (delta, dels) =
      if (base.nonEmpty) (s.delta, s.deletes)
      else (s.delta.filterNot(e => other.contains(normalize(e.path))),
        s.deletes.filterNot(e => other.contains(normalize(e.path))))
    // tombstones alone hold no live rows: the side is empty
    if (base.isEmpty && delta.isEmpty) None
    else {
      val baseNorm = base.map(e => normalize(e.path)).toSet
      Some(logicalFrame(spark,
        Snapshot(s.version, base, delta,
          if (delta.isEmpty && dels.isEmpty) Nil else s.dvKeys,
          s.dvFiles.map(_.filter(p => baseNorm.contains(normalize(p)))),
          s.stats, // ranges are looked up per file: extras are inert
          s.schemaJson, // the side binds ITS version's schema
          dels,
          // the side carries the FULL delta+tombstone sets whenever it
          // holds base rows, so the recorded literal set applies
          // verbatim; base-less sides never suppress
          dvLits = if (base.isEmpty) None else s.dvLits)))
    }
  }

  /** A PINNED version's snapshot; the travel-ended failure comes from
    * [[Manifests.readPinned]] (raised from the read itself, cause
    * chained — never an exists pre-check a sweep could invalidate). */
  def snapshotAt(spark: SparkSession, path: String, version: Long): Snapshot = {
    val (fs, root) = fsOf(spark, path)
    decodeLines(
      Manifests.readPinned(fs, manifestDir(root), version, path), version)
  }

  /** Upsert `updates` by `keyCols` (last state wins per key, like the
    * reference's DO UPDATE): matched keys are replaced, new keys are
    * inserted, and only the parquet files containing a matched key are
    * rewritten. `updates` must be unique per key and NULL-free in every
    * key column — the same contract Delta's MERGE effectively enforces
    * (NULL keys never match the semi/anti joins, so a null-keyed row
    * would silently re-insert as a new duplicate on every merge).
    *
    * merge is the row-level writer ([[applyChanges]]) with no delete
    * side and a zero row budget: every call FOLDS, so a rewrite merge
    * is a row-level change folded at once. A table carrying row-level
    * ([[mergeLite]]/[[deleteLite]]) state folds it into the same commit
    * — even for a zero-row `updates` — emitting a DV-free manifest.
    *
    * `where` (Delta's `replaceWhere`, keyed): delete the rows matching
    * the predicate (LOGICAL names), then merge `updates` by key — in
    * the same one version. It drops rows of the PRIOR state only, never
    * a row of `updates`, and a call with it re-discovers its files per
    * OCC attempt ([[deleteWhere]]'s contract) instead of rebasing.
    *
    * `allowSchemaEvolution` (Delta's `mergeSchema`, additive half):
    * extra `updates` columns WIDEN the table — the commit records the
    * widened schema in the manifest, files written before it read the
    * new columns as NULL, and time travel / clones stay pinned to
    * their version's schema. Dropping or retyping a column is refused
    * in both modes ([[conformedSchema]]). */
  def merge(
      spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String],
      allowSchemaEvolution: Boolean = false,
      where: Option[Column] = None): MergeStats =
    RowLevel(spark, path, Some(updates), None, keyCols, maxDeltaRows = 0L,
      DefaultMaxDeltaFiles, allowSchemaEvolution, "merge", where)

  /** Shared key-list contract of [[merge]] and [[mergeLite]]: nonempty
    * and DUPLICATE-FREE — a repeated name would brick the table: a
    * first mergeLite with `Seq("id","id")` commits `dvkeys id,id` and
    * every later read's using-columns join dies on an
    * ambiguous-reference AnalysisException until a fold clears it, and
    * the set-equality guards would pass the repeated spelling through
    * to the same raw failure. */
  private[sources] def requireKeyCols(keyCols: Seq[String]): Unit = {
    require(keyCols.nonEmpty, "keyCols must name at least one column")
    require(keyCols.distinct.size == keyCols.size,
      s"keyCols repeats a column name: ${keyCols.mkString(",")}")
  }

  /** Conformance + ADDITIVE schema evolution (Delta's `mergeSchema`,
    * additive half): returns the schema the commit should record.
    *
    *  - every TABLE column must appear in `u` with the exact type
    *    (dropping or retyping a column is refused in BOTH modes —
    *    a dropped column silently NULLing out across the table, or a
    *    retyped one committing mixed physical types, are the two
    *    silent corruptions evolution must never allow);
    *  - EXTRA `u` columns widen the schema when `allowEvolution` —
    *    appended after the table's columns in `u`'s order, forced
    *    nullable (old files read them as NULL); refused otherwise;
    *  - a new name that collides with an existing one ignoring case is
    *    refused regardless of the session's case sensitivity: the
    *    manifest outlives any one session's conf, and a later
    *    case-insensitive session could not resolve the table at all.
    *
    * Type equality via catalogString, which ignores nullability: a
    * nullability-only difference (array<float> containsNull true vs
    * false) is the same physical type, and rejecting it would produce
    * an error whose two printed types look identical. */
  private[sources] def conformedSchema(
      tableSchema: org.apache.spark.sql.types.StructType,
      u: DataFrame, keyCols: Seq[String],
      allowEvolution: Boolean): org.apache.spark.sql.types.StructType = {
    val cols = tableSchema.map(_.name)
    require(keyCols.forall(cols.contains),
      s"key ${keyCols.mkString(",")} missing from table")
    val missing = cols.filterNot(u.columns.contains)
    require(missing.isEmpty,
      s"updates are missing table column(s) [${missing.mkString(",")}] — " +
        "evolution is ADDITIVE only; dropping a column needs a deliberate " +
        "table rewrite")
    val fresh = u.schema.filterNot(f => cols.contains(f.name))
    if (fresh.nonEmpty && !allowEvolution) throw new IllegalArgumentException(
      s"updates schema [${u.columns.sorted.mkString(",")}] must match table " +
        s"schema [${cols.sorted.mkString(",")}] exactly — pass " +
        "allowSchemaEvolution = true to merge() to widen the table " +
        s"additively with [${fresh.map(_.name).mkString(",")}]")
    // fresh-vs-fresh too (review catch): two case-variant NEW columns
    // in one evolving batch would commit a schema no case-insensitive
    // session can ever resolve — the same cross-session brick
    require(fresh.map(_.name.toLowerCase).distinct.size == fresh.size,
      s"new columns [${fresh.map(_.name).mkString(",")}] collide with each " +
        "other ignoring case — a case-insensitive session could not " +
        "resolve the table")
    fresh.foreach { f =>
      require(!cols.exists(_.equalsIgnoreCase(f.name)),
        s"new column ${f.name} collides with an existing column ignoring " +
          "case — a case-insensitive session could not resolve the table")
      require(f.name.nonEmpty &&
          !f.name.exists(c => c == '\n' || c == '\r' || c == '\t'),
        s"new column name not storable: '${f.name}'")
      // a typed refusal BEFORE the rewrite: parquet cannot store VOID,
      // and letting it through would fail writeBatch after discovery
      // already ran — with parquet's error, not an actionable one
      require(!hasNullType(f.dataType),
        s"new column ${f.name} has type ${f.dataType.catalogString} — " +
          "cast the NULL literal to the intended type (VOID is not a " +
          "storable parquet type)")
    }
    // Names alone are not enough: a same-named column with a drifted
    // type (id INT vs table LONG) would commit parquet files with mixed
    // physical types and fail or mis-merge on later reads. With
    // evolution, a WIDENING retype from the lossless allowlist is the
    // exception (Delta's type widening): the recorded schema takes the
    // wider type and every narrower file PROMOTES at scan time —
    // Spark 4's parquet readers (both vectorized and row-based)
    // up-convert int32→long / float→double physical pages, and pushed
    // filters + bloom probes stay exact through the promotion
    // (probe-verified on this build: point/range/out-of-range/bloom).
    val tableTypes = tableSchema.map(f => f.name -> f.dataType).toMap
    var widenedTypes = Map.empty[String, org.apache.spark.sql.types.DataType]
    u.schema.filter(f => cols.contains(f.name)).foreach { f =>
      val t = tableTypes(f.name)
      if (f.dataType.catalogString != t.catalogString) {
        if (allowEvolution && losslessWidening(t, f.dataType))
          widenedTypes += f.name -> f.dataType
        else if (losslessWidening(f.dataType, t)) {
          // the NARROWER side arriving is a caller mistake, not
          // evolution — today's exact cast-the-frame contract
          throw new IllegalArgumentException(
            s"updates column ${f.name} has type ${f.dataType.catalogString} " +
              s"but the table stores ${t.catalogString} — cast the update " +
              "frame to the table schema before merging")
        } else throw new IllegalArgumentException(
          s"updates column ${f.name} has type ${f.dataType.catalogString} but " +
            s"the table stores ${t.catalogString} — " +
            (if (allowEvolution)
              "only lossless widenings (byte→short→int→long, float→double, " +
                "byte/short/int→double) are evolution; anything else — " +
                "including the lossy long→double — needs a deliberate " +
                "table rewrite"
             else "cast the update frame to the table schema before " +
               "merging (retyping a column is never exact-mode evolution)"))
      }
    }
    org.apache.spark.sql.types.StructType(
      tableSchema.fields.map(f =>
        widenedTypes.get(f.name).map(w => f.copy(dataType = w)).getOrElse(f)) ++
        fresh.map(f => f.copy(nullable = true)))
  }

  /** Stat declarations still VALID under the (possibly type-widened)
    * schema: a column widened OUT of the long-ordered family
    * (int→double) drops its stats line on the widening commit —
    * collectStats would otherwise record truncated `longValue` ranges
    * for the new double-typed files, wrong metadata that stays dormant
    * only while relationFor's statsSupported filter ignores it (the
    * byte-indistinguishable-from-correct landmine; review catch, r16) —
    * and every later commit would keep paying footer reads for a
    * column that can never prune again. Hex stats bind strings, which
    * widening never touches. Widening WITHIN the family (int→long)
    * keeps its stats: the recorded ranges remain exact and the pruner
    * binds the promoted type (spec-pinned). */
  private[sources] def statsUnderSchema(
      stats: Seq[TableStats],
      schema: org.apache.spark.sql.types.StructType): Seq[TableStats] =
    stats.filter(s => s.hex ||
      schema.find(_.name == s.col).forall(f => statsSupported(f.dataType)))

  /** The lossless type-widening allowlist (Delta's type widening,
    * restricted to promotions Spark 4's parquet readers perform
    * natively and exactly): up the integral chain, float→double, and
    * integral-up-to-int→double (exact in a 52-bit mantissa; LONG→double
    * is lossy and stays refused). */
  private def losslessWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case _ => false
    }
  }

  /** True when the type contains VOID anywhere (an uncast NULL
    * literal) — unstorable in parquet, refused at conformance. */
  private def hasNullType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case NullType => true
      case s: StructType => s.fields.exists(f => hasNullType(f.dataType))
      case a: ArrayType => hasNullType(a.elementType)
      case m: MapType => hasNullType(m.keyType) || hasNullType(m.valueType)
      case _ => false
    }
  }

  /** The schema with every field (recursively) nullable — what a
    * file-backed READ of the same data reports, so the manifest's
    * recorded schema always agrees with what a head-file probe would
    * have said (Catalyst's `asNullable` is spark-private). */
  private[sources] def asNullableSchema(
      s: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def relax(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(f =>
        f.copy(dataType = relax(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = relax(a.elementType), containsNull = true)
      case m: MapType => m.copy(keyType = relax(m.keyType),
        valueType = relax(m.valueType), valueContainsNull = true)
      case other => other
    }
    relax(s).asInstanceOf[StructType]
  }

  /** `df` projected to exactly `schema`'s columns, missing ones filled
    * with typed NULLs — the read-side convention for files written
    * before a widening, applied frame-side where a LOGICAL frame (a
    * delta scan, a CDF probe) predates the evolved schema. */
  private[sources] def padTo(
      df: DataFrame, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // present columns CAST to the target type (a no-op when already
    // equal): across a TYPE widening the narrow side must promote or
    // the downstream union/struct-compare would fail analysis
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    df.select(schema.map(f =>
      if (df.columns.contains(f.name)) {
        if (types(f.name) == f.dataType) col(f.name)
        else col(f.name).cast(f.dataType).as(f.name)
      } else lit(null).cast(f.dataType).as(f.name)): _*)
  }

  /** The rewrite-merge core: apply `u` against `snap`'s base entries
    * (touched files rewritten, untouched carried by reference) and
    * commit a DV-free manifest as `snap.version + 1`. `tableSchema` is
    * the CURRENT manifest schema (the caller resolves it once per
    * attempt); the commit records the possibly-widened result, so the
    * next version's manifest is always self-describing. */
  /** `knownTouched` (scope-aware fold, r14 verdict #5): the normalized
    * base-file set the caller has ALREADY proven to contain every row
    * a key of `u` matches — the suppression scope, for folds whose
    * update set derives from the delta. When present the base
    * key-column discovery scan is skipped entirely: fold cost becomes
    * ∝ scope files, not the table. A conservative SUPERSET is also
    * sound (extra files rewrite their rows verbatim); a SUBSET is not
    * (a missed file would keep its superseded rows) — callers pass
    * exact sets only. */
  /** `removeKeys` ([[deleteLite]] folds): keys whose base rows must be
    * DROPPED without replacement — the tombstone half of a fold. The
    * caller guarantees they are disjoint from `u`'s keys (the commit
    * invariant: a re-inserted key moves out of the tombstone set), and
    * that `knownTouched` — when passed — covers their files too. */
  /** `where` (the predicate side of [[deleteWhere]] and [[merge]]): base
    * rows it matches drop too. The files it matches are discovered here
    * on top of the key-touched ones — one stats-pruned scan over the
    * logical view, the predicate pushed into it, so with range-sorted
    * files most are never opened. `u` holds no row it matches but the
    * caller's own (the caller filters the prior delta's rows), while
    * `ks` keeps every key of the new delta, so a dropped delta row's
    * superseded base row stays dropped. */
  private[sources] def rewriteMerge(
      spark: SparkSession, fs: FileSystem, root: Path, snap: Snapshot,
      u: DataFrame, ks: KeySet,
      tableSchema: org.apache.spark.sql.types.StructType,
      allowEvolution: Boolean,
      knownTouched: Option[Set[String]],
      removeKeys: Option[DataFrame],
      colMap0: ColMap,
      where: Option[Column],
      // true ONLY for a PURE caller batch (no prior delta, no deletes)
      // on a DV-free base (see RowLevel.once). FOLD calls must never rebase:
      // their `u` is delta-carried state whose validity depends on the
      // base's row-level lines — a winner that deleted those delta keys
      // (e.g. a past-budget deleteLite emitting an entries-only
      // manifest with NO file change, so `added` is empty and the key
      // probe never runs) would see the rebase silently RESURRECT them
      // (review catch, r16).
      allowRebase: Boolean): MergeStats = {
    val keyCols = ks.keyCols
    val nU = ks.size
    val widened = conformedSchema(tableSchema, u, keyCols, allowEvolution)
    // a widening can invalidate stat declarations (int→double): they
    // drop on THIS commit, before carriedStats pays footer reads for
    // them — see statsUnderSchema
    val snapStats2 = statsUnderSchema(snap.stats, widened)
    // the base binds the WIDENED schema: pre-widening files fill the
    // new columns with NULL, so the replaced leg's select below can
    // project every column of the new table shape. Manifest stats
    // ride along so the DISCOVERY scan below prunes files at planning
    // time on a compacted key layout (the rescopeDelta rationale;
    // sound — stats exclusion is conservative).
    val base = relationFor(spark, snap.entries, snap.stats, Some(widened))
    val cols = widened.map(_.name)

    // counted only if discovery needs the In-vs-range decision
    val removal = removeKeys.map(rk => KeySet.Frame(rk, keyCols, rk.count()))
    // every discovery plan — the key sets' unless known, the
    // predicate's — runs as ONE collect of their union
    val discovery = knownTouched.fold(
        (if (nU == 0) Nil else Seq(ks.discoveryFrame(base))) ++
          removal.toSeq.map(_.discoveryFrame(base)))(_ => Nil) ++
      where.map(c => presentLogical(base, colMap0).filter(c)
        .select(input_file_name().as("__file")).distinct())
    val touched: Set[String] = knownTouched.getOrElse(Set.empty[String]) ++
      discovery.reduceOption(_ union _).toSeq
        .flatMap(_.collect().map(r => normalize(r.getString(0))))

    val (hit, kept) = snap.entries.partition(e => touched.contains(normalize(e.path)))
    // the DV-free version this merge publishes over `entries`; kept
    // entries pass through the commit's withSizes, so a legacy
    // size-less table's FIRST merge upgrades its manifest to the
    // zero-listing read path (and the recorded schema line upgrades it
    // to zero-IO opens)
    def next(entries: Seq[FileEntry], stats: Seq[TableStats]) =
      Snapshot(snap.version + 1, entries, stats = stats,
        schemaJson = Some(asNullableSchema(widened).json), colMap = colMap0)
    // Insert-only batches write ceil(nU / InsertRowsPerFile) files: one
    // file per batch fragments nothing, but a single writer task for an
    // arbitrarily large first load would serialize the whole write (the
    // compute upstream is already materialized by the writer's checkpoint,
    // so only write parallelism is at stake).
    val insertFiles = math.max(1L,
      (nU + InsertRowsPerFile - 1) / InsertRowsPerFile).toInt
    val replaced =
      if (hit.isEmpty && nU == 0) {
        // a zero-row update is a no-op — EXCEPT when it widens the
        // schema (the declare-a-column-ahead-of-backfill shape): the
        // widening must commit deterministically, not depend on
        // whether delta state happened to route the call through a
        // fold (review catch). One manifest write, stats carried
        // verbatim (no file changed), no data IO. STRUCTURAL compare,
        // not length: a TYPE widening keeps the column count.
        if (asNullableSchema(widened) == asNullableSchema(tableSchema))
          return MergeStats(snap.version, kept.size, 0, 0, 0)
        commit(fs, root, next(kept, snapStats2))
        return MergeStats(snap.version + 1, kept.size, 0, 0, 0)
      }
      else if (hit.isEmpty) u.select(cols.map(col): _*).coalesce(insertFiles)
      // replaced keys AND removed keys drop from the hit files, and so
      // do the rows `where` matches; only the replaced ones re-enter via
      // u — a removed key's row ends here (the deleteLite fold)
      else without({
          val hitRows = relationFor(spark, hit, Nil, Some(widened))
          if (nU == 0 && removal.isEmpty) hitRows
          else removal.fold(ks)(ks.union).anti(hitRows)
        }, colMap0, where)
        .select(cols.map(col): _*)
        .unionByName(u.select(cols.map(col): _*))
        // as many output files as were hit: without this, the replaced
        // rows inherit the plan's partitioning (hit splits + the update
        // frame's partitions) and every merge FRAGMENTS the table —
        // measured 34 new files for a 1-file hit at 10M rows
        .coalesce(hit.size)
    val newFiles = writeBatch(spark, fs, root, replaced)
    commitOrRebase(spark, fs, root,
      next(kept ++ newFiles, carriedStats(
        spark.sparkContext.hadoopConfiguration, snapStats2, kept, newFiles)),
      MergeStats(snap.version + 1, kept.size, hit.size, newFiles.size, nU),
      // INSERT-ONLY commits (no file hit, no keys removed) may rebase
      // onto a disjoint winner; everything else re-runs whole
      if (allowRebase && hit.isEmpty && removeKeys.isEmpty && nU > 0)
        Some(Append(ks, snap, nU, entries = newFiles))
      else None)
  }

  /** Test seam for the OCC race (no-op in production): [[commit]] runs
    * it first — after a writer's files land and before its manifest is
    * claimed, the window a concurrent winner occupies. Single-threaded
    * test use only; the hook must reset itself before committing
    * anything or the inner write recurses into it. */
  private[graft] var commitRaceHookForTest: () => Unit = () => ()

  /** A lost commit [[commitOrRebase]] may land on the winner's tip: the
    * files it adds — new base `entries` for an insert-only merge, new
    * `delta` files and a `tombstones` file (written at most once, when
    * first needed) for a row-level append — and the keys `ks` its
    * attempt proved against `base`. `budget` is a row-level append's
    * (maxDeltaRows, maxDeltaFiles); None marks an insert-only one. */
  private[sources] final case class Append(
      ks: KeySet, base: Snapshot, upserts: Long,
      entries: Seq[FileEntry] = Nil, delta: Seq[FileEntry] = Nil,
      tombstones: () => Seq[FileEntry] = () => Nil,
      budget: Option[(Long, Int)] = None)

  /** Publishes `next` and returns `won`. A lost claim is rethrown for
    * [[transact]] to re-run the attempt whole — unless `mine` describes
    * an APPEND, which this REBASES onto the winner's tip instead
    * (Delta's disjoint-commit reconciliation, miniature): two writers
    * on disjoint keys then land in one retry round. Up to
    * [[RebaseAttempts]] times it re-validates against a fresh tip and
    * commits `mine` on top of it.
    *
    * INVARIANT ANALYSIS — what an append claims, and how each claim is
    * re-proven against the tip:
    *
    *  1. "My files carry schema X under mapping M" — exact equality of
    *     tip.schemaJson/tip.colMap with `next`'s (an evolving or
    *     renaming winner refuses; the full retry handles it). A legacy
    *     schema-less tip refuses too.
    *  2. "My keys appear in no other suppression state." An insert-only
    *     append refuses ANY row-level tip: a winner's tombstone for one
    *     of my keys has no defined order against my insert, and a
    *     winner's delta key hides state the base-file probe can't see.
    *     A row-level append re-proves key uniqueness across delta
    *     files and tombstone/delta disjointness directly against the
    *     TIP's row-level state — one overlap probe over tip.delta and
    *     tip.deletes (both budget-bounded), zero overlap required — so
    *     it assumes nothing about WHAT the winner did (append, combine,
    *     fold, rescope). It also refuses a tip keyed by other columns,
    *     a tip past the row budget with mine added (the full retry
    *     folds, the right response to a full suppression set) and, when
    *     I add delta files, one past the delta file cap.
    *  3. "My keys are absent from / scoped over the base." Files CARRIED
    *     from my base are immutable, so my attempt's proof holds for
    *     them; files the winner ADDED (insert batch, fold/compaction
    *     output, deleteWhere rewrite) could hold my keys — probed over
    *     exactly `tip − base` (cost ∝ the winner's churn). Zero hits
    *     required: a hit would make an insert a duplicate, and a scoped
    *     row-level commit fail to suppress that file's row. Files the
    *     winner REMOVED drop out of the composed scope (inert). The
    *     scope composes the tip's (covering its own keys) with mine
    *     (point-probed against MY base — sound for carried files, and
    *     added files were just proven key-free); either side unscoped →
    *     unscoped (suppress-everywhere is always sound; rescopeDelta
    *     bounds it later).
    *
    * FOLD commits and delta- or tombstone-REWRITING commits never pass
    * `mine`: a fold's input is delta-carried state whose validity the
    * r16 analysis showed cannot survive a winner, and key disjointness
    * alone cannot reconcile two rewrites of the same row-level file
    * set. A torn rebase (crash between validation and commit) leaves
    * the winner's tip untouched and my files orphaned —
    * vacuum-reclaimable, never referenced. */
  private[sources] def commitOrRebase(
      spark: SparkSession, fs: FileSystem, root: Path, next: Snapshot,
      won: MergeStats, mine: Option[Append]): MergeStats = {
    val lost =
      try { commit(fs, root, next); return won }
      catch { case e: FileAlreadyExistsException if mine.isDefined => e }
    val a = mine.get
    val conf = spark.sparkContext.hadoopConfiguration
    val keyCols = a.ks.keyCols
    val rowLevel = a.budget.isDefined
    val baseSet = a.base.entries.map(e => normalize(e.path)).toSet
    lazy val tombs = a.tombstones()
    var n = 0
    while (n < RebaseAttempts) {
      n += 1
      val tip = snapshot(spark, root.toString)
      val schema = tip.schema.filter(_ => // claim 1
        tip.schemaJson == next.schemaJson && tip.colMap == next.colMap)
        .getOrElse(throw lost)
      val refused = a.budget match { // claim 2
        case None => tip.rowLevel
        case Some((maxDeltaRows, maxDeltaFiles)) =>
          (tip.dvKeys.nonEmpty && tip.dvKeys.toSet != keyCols.toSet) ||
            footerRowCount(conf, tip.delta) + footerRowCount(conf, tip.deletes) +
              a.ks.size > maxDeltaRows ||
            (a.delta.nonEmpty && tip.delta.size + a.delta.size > maxDeltaFiles) ||
            a.ks.overlaps(
              (if (tip.delta.isEmpty) Nil
               else Seq(relationFor(spark, tip.delta, Nil, Some(schema)))) ++
              (if (tip.deletes.isEmpty) Nil
               else Seq(relationFor(spark, tip.deletes, Nil,
                 Some(keySchemaOf(schema, keyCols)))))).exists(_._2 > 0)
      }
      val added = tip.entries.filterNot(e => baseSet.contains(normalize(e.path)))
      if (refused || added.nonEmpty && a.ks.hitsAny( // claim 3
          relationFor(spark, withSizes(fs, added), tip.stats, Some(schema))))
        throw lost
      val scope: Option[Seq[String]] =
        if (!rowLevel || tip.rowLevel && tip.dvFiles.isEmpty) None
        else a.ks.pointTouched(
            relationFor(spark, a.base.entries, a.base.stats, Some(schema)))
          .map { touched =>
            val tipScope = tip.dvFiles.getOrElse(Nil).map(normalize).toSet
            tip.entries.map(_.path).filter(p =>
              touched.contains(normalize(p)) || tipScope.contains(normalize(p)))
          }
      try {
        commit(fs, root, tip.copy(version = tip.version + 1,
          entries = tip.entries ++ a.entries, delta = tip.delta ++ a.delta,
          deletes = tip.deletes ++ tombs,
          dvKeys = if (rowLevel && tip.dvKeys.isEmpty) keyCols else tip.dvKeys,
          dvFiles = scope,
          stats = carriedStats(conf, tip.stats, tip.entries ++ tip.delta,
            a.entries ++ a.delta),
          // my disjoint keys extend the TIP's recorded set: tip ∪ mine
          dvLits = if (rowLevel) a.ks.dvLitsAfter(spark, tip) else tip.dvLits))
        return MergeStats(tip.version + 1, tip.entries.size + tip.delta.size,
          0, a.entries.size + a.delta.size + tombs.size, a.upserts)
      } catch {
        case _: FileAlreadyExistsException => // another winner: re-validate
      }
    }
    throw lost
  }

  /** Legacy-manifest migration at commit time (closing the r13 gap): an
    * entry carried into a new manifest without a recorded size (written
    * before the `path\tsize` codec) is stat'ed ONCE here, so a legacy
    * table's first merge/delete upgrades it to the zero-listing read
    * path — the listing fallback is then reached only by genuinely old,
    * never-modified tables. Cost: one getFileStatus per legacy file,
    * once per table lifetime. private[graft]: the IVF commit path
    * (GraftSession.commitTouchedVersion) applies the same migration. */
  private[graft] def withSizes(fs: FileSystem, entries: Seq[FileEntry]): Seq[FileEntry] =
    entries.map(e =>
      if (e.size >= 0) e
      else FileEntry(e.path, fs.getFileStatus(new Path(e.path)).getLen))

  /** Default bound on accumulated [[mergeLite]] delta rows before a
    * call folds into a rewrite merge: the delta's key set rides a
    * broadcast anti-join on EVERY read, so it must stay
    * executor-memory-small (1M hash keys ≈ 100 MB broadcast — about
    * the practical ceiling; deployments with wide rows tune it down). */
  val DefaultMaxDeltaRows: Long = 1000000L

  /** Default bound on accumulated [[mergeLite]] delta FILES before a
    * disjoint-key batch stops appending its own file set and re-writes
    * the delta whole instead: appends keep a sustained stream's write
    * cost O(batch) (no quadratic delta re-write between folds), and
    * this cap keeps the read union's delta file count bounded — the
    * periodic small compaction is amortized to 1/maxDeltaFiles of the
    * calls. */
  val DefaultMaxDeltaFiles: Int = 64

  /** Row-level MERGE — absorbs `updates` WITHOUT rewriting any base
    * file (the keyed analog of Delta's deletion vectors). A rewrite
    * [[merge]] pays a full file rewrite for every file a redelivered
    * key touches — StreamMergeBloomDemo (since removed:
    * git show c10dac1:src/main/scala/graft/StreamMergeBloomDemo.scala)
    * measured replay batches rewrite-dominated (~1x bloom win) because
    * 10 redelivered ids spread across ~10 files rewrite them all.
    * mergeLite instead appends the updates as a small DELTA file and
    * lets the read path
    * suppress superseded base rows by key ([[logicalFrame]]: base
    * ANTI-JOIN delta-keys ∪ delta — the tombstone set IS the delta's
    * key set, so no separate tombstone sidecars exist and the
    * tombstone/delta invariant cannot drift). A 10-row replay costs a
    * 10-row write at ANY table size (MergeLiteDemo quantifies both the
    * write win and the read tax). The suppression is SCOPED: the commit
    * records which base files discovery proved to hold a superseded
    * row (Delta's file-granular deletion-vector attachment, by key),
    * so reads anti-join only those files — the rest of the table, and
    * ALL of it after an insert-only batch, reads bare. Scoping runs
    * only when its discovery is a cheap point probe (single key
    * column, ≤1000 keys — the replay shape); larger batches commit
    * unscoped rather than paying a base key-column scan per write, and
    * reads then suppress over every base file until a later small
    * batch re-scopes.
    *
    * Consecutive mergeLites accumulate: a batch whose keys are
    * DISJOINT from the delta's (the common shape — new ids supersede
    * BASE rows, not delta rows) APPENDS its own file set, leaving the
    * prior delta files untouched, so a sustained stream pays O(batch)
    * per commit; an overlapping batch COMBINES (last wins per key, one
    * re-written delta file set — small by `maxDeltaRows`), as does a
    * batch arriving at the `maxDeltaFiles` cap (bounding the read
    * union's file count, amortized 1/cap). Once the accumulated delta
    * would exceed `maxDeltaRows`, the call FOLDS instead — one rewrite
    * merge of the combined rows, clearing the row-level state.
    * [[deleteWhere]], [[compactTable]] and [[merge]] fold it in the
    * version they commit.
    * Same contract as [[merge]]: unique, NULL-free keys; exact schema —
    * or additive widening with `allowSchemaEvolution` (the [[merge]]
    * semantics: the commit records the widened schema, every file
    * written before it — base AND prior delta files alike — reads the
    * new columns as NULL). [[applyChanges]] with no delete side: one
    * writer, `RowLevel`, serves all three. */
  def mergeLite(
      spark: SparkSession, path: String, updates: DataFrame,
      keyCols: Seq[String], maxDeltaRows: Long = DefaultMaxDeltaRows,
      maxDeltaFiles: Int = DefaultMaxDeltaFiles,
      allowSchemaEvolution: Boolean = false): MergeStats =
    RowLevel(spark, path, Some(updates), None, keyCols, maxDeltaRows,
      maxDeltaFiles, allowSchemaEvolution, "mergeLite")

  /** Row-level CHANGES — one call's upserts and keyed deletes land in
    * ONE commit: [[mergeLite]] and [[deleteLite]] at once, sharing one
    * snapshot, one validation, one probe of the delta and one of the
    * tombstones, one delta file set, one tombstone file, one manifest
    * version and one OCC rebase path (Delta's one-log-entry transaction
    * of adds and removes). No reader can pin a version holding only
    * part of the call; the keyed CDC sink
    * ([[graft.streaming.JobProcessor.runChangesToMergeTable]]) commits
    * each micro-batch this way.
    *
    * `upserts` follows the [[mergeLite]] contract (full rows, unique and
    * NULL-free keys, schema evolution with `allowSchemaEvolution`);
    * `deletes` the [[deleteLite]] one (the key columns; extra columns
    * are ignored, duplicates collapse, NULL keys are refused). None is
    * an empty side; at least one side must be given. A key on BOTH
    * sides is refused with an IllegalArgumentException before anything
    * is written: one call applies one change per key, and a caller
    * holding an ordered op log resolves each key first (last op wins,
    * as [[graft.query.Relational.applyChanges]] does). Otherwise the
    * result reads the same as `mergeLite(upserts)` followed by
    * `deleteLite(deletes)`; `rowsUpserted` counts the upserts. */
  def applyChanges(
      spark: SparkSession, path: String,
      upserts: Option[DataFrame], deletes: Option[DataFrame],
      keyCols: Seq[String], maxDeltaRows: Long = DefaultMaxDeltaRows,
      maxDeltaFiles: Int = DefaultMaxDeltaFiles,
      allowSchemaEvolution: Boolean = false): MergeStats = {
    require(upserts.isDefined || deletes.isDefined,
      "applyChanges needs an upsert side, a delete side, or both")
    RowLevel(spark, path, upserts, deletes, keyCols, maxDeltaRows,
      maxDeltaFiles, allowSchemaEvolution, "applyChanges")
  }

  /** [[applyChanges]] at its defaults for a caller that materialized its
    * upsert side and validated both sides itself — the CDC sink's
    * micro-batch, whose one bounded collect already validated them
    * ([[KeySet.collectedChanges]]). The caller frees `upserts` and
    * `changes.deletes`. */
  private[graft] def applyValidated(
      spark: SparkSession, path: String, upserts: Option[DataFrame],
      changes: KeySet.Changes): MergeStats =
    RowLevel.validated(spark, path, upserts, changes, "applyChanges")

  /** MAINTENANCE RE-SCOPE (r14 verdict #2): give an UNSCOPED delta
    * manifest its suppression scope by deliberately running the base
    * key-column discovery scan the WRITE path refused to pay — large
    * or multi-column mergeLite batches commit unscoped, and until now
    * the full-base read tax (every scan anti-joins every base file)
    * persisted until a small single-key batch happened to upgrade it,
    * which on some workloads never arrives. This pass runs the one
    * scan off the write path (schedule it with compact/vacuum), then
    * commits a version with IDENTICAL entries/delta/keys/stats and the
    * discovered scope: reads thereafter anti-join only the touched
    * files. No data file is written — the commit is one manifest.
    *
    * No-op (snapshot returned unchanged, nothing committed) when the
    * table carries no delta or is already scoped. Same OCC contract as
    * every writer ([[transact]]). */
  def rescopeDelta(spark: SparkSession, path: String): Snapshot =
    transact(spark, path, "rescopeDelta") { snap =>
      if (!snap.rowLevel || snap.dvFiles.isDefined) snap
      else {
        val schema0 = tableSchemaOf(spark, snap)
        // stats ride into the discovery scan: a compacted key layout
        // prunes most base files before any task runs
        val base = relationFor(spark, snap.entries, snap.stats, Some(schema0))
        // the FULL suppression key set: delta keys ∪ tombstones — the
        // scope must name every file either kind can touch
        val touched = KeySet.fromSnapshot(spark, snap).touchedFiles(base)
        val (fs, root) = fsOf(spark, path)
        commit(fs, root, snap.copy(version = snap.version + 1,
          dvFiles = Some(snap.entries.map(_.path)
            .filter(p => touched.contains(normalize(p)))),
          schemaJson = Some(asNullableSchema(schema0).json)))
      }
    }

  /** Row-level keyed DELETE — removes the rows whose keys appear in
    * `keys` WITHOUT rewriting any base file: the tombstone half of the
    * deletion-vector analog ([[mergeLite]] is the update/insert half).
    * [[deleteWhere]] pays a full rewrite of every file a matched key
    * lives in — a 10-key retraction (a GDPR erasure, a bad-batch
    * rollback) rewrites ~10 files at any table size. deleteLite
    * instead records the keys as TOMBSTONES (a key-only parquet file
    * in the manifest's `ddel` set): the read path adds them to the
    * base-leg suppression join — a deleted base row is superseded by
    * nothing — so the delete is an O(keys) write at any table size,
    * and the [[compactTable]]/[[merge]]/[[deleteWhere]] folds clear the
    * tombstones by dropping their rows during the rewrite they were
    * already paying, in the version they commit.
    *
    * Interplay invariant (enforced by every writer): tombstone keys
    * and delta keys are DISJOINT. Deleting a key that lives in the
    * delta re-writes the delta without it (delta files are small by
    * `maxDeltaRows`) AND tombstones it (its base row, if any, must
    * stay suppressed); a later mergeLite/merge that re-inserts a
    * tombstoned key removes it from the tombstone set in that same
    * commit (last wins). Tombstones are kept as ONE combined key file
    * (narrow rows — re-writing the accumulated set costs ~nothing next
    * to the delta's wide rows, and the read union's file count stays
    * flat). The suppression-scope discipline matches mergeLite: a
    * cheap point-probe discovery scopes the commit, larger batches
    * commit unscoped and [[rescopeDelta]] bounds the tax.
    *
    * `keys` needs the key columns only (extra columns are ignored);
    * duplicates are collapsed (deletes are idempotent); NULL keys are
    * refused; keys absent from the table are inert (they suppress
    * nothing) but count toward the fold budget. Once accumulated
    * delta + tombstone rows would exceed `maxDeltaRows`, the call
    * FOLDS: one rewrite merge that drops every tombstoned row and
    * materializes the delta, emitting a DV-free manifest.
    * [[applyChanges]] with no upsert side. */
  def deleteLite(
      spark: SparkSession, path: String, keys: DataFrame,
      keyCols: Seq[String],
      maxDeltaRows: Long = DefaultMaxDeltaRows): MergeStats =
    RowLevel(spark, path, None, Some(keys), keyCols, maxDeltaRows,
      DefaultMaxDeltaFiles, allowEvolution = false, "deleteLite")

  /** PREDICATE delete on the TOMBSTONE path — the bridge between
    * [[deleteWhere]] (predicate in, every matched file rewritten:
    * 56.2 s at 40M rows for a 10-row match in the r15 A/B) and
    * [[deleteLite]] (keys in, O(keys) write: 1.78 s on the same
    * table). The discovery scan runs ONCE — stats/bloom-pruned
    * exactly like any read, with the current tombstone/delta
    * suppression applied so an already-deleted or superseded row can
    * never re-match — materializes the matching KEYS, and commits
    * them through the deleteLite tombstone path. Past the
    * `maxDeltaRows` budget, deleteLite's own fold takes over: the
    * commit becomes the rewrite the budget was deferring, i.e. the
    * fallback IS deleteWhere's cost, chosen by measured key count
    * rather than up front.
    *
    * `keyCols` must be the table's merge keys (unique per version) —
    * removing a key removes exactly the predicate's rows. Semantics
    * vs deleteWhere: bit-equal on a quiescent table (spec-pinned);
    * under concurrency the predicate binds to the DISCOVERY snapshot
    * (a concurrent writer's new matching rows are not re-discovered
    * by the commit retries, where deleteWhere's fold re-runs its
    * discovery per attempt — the price of the O(keys) write path). */
  def deleteWhereLite(
      spark: SparkSession, path: String,
      cond: org.apache.spark.sql.Column, keyCols: Seq[String],
      maxDeltaRows: Long = DefaultMaxDeltaRows): MergeStats = {
    requireKeyCols(keyCols)
    val keys = read(spark, path).filter(cond)
      .select(keyCols.map(col): _*).distinct().localCheckpoint(true)
    try deleteLite(spark, path, keys, keyCols, maxDeltaRows)
    finally graft.util.Checkpoints.free(keys)
  }

  /** Row-level DELETE: rewrite only the files that contain a row
    * matching `cond` (LOGICAL names), keeping their non-matching rows —
    * the reference's TTL sweep (`DELETE WHERE expires_at < now`,
    * `vector_service.py` cleanup loop) at the storage layer. The
    * predicate is pushed into the stats-pruned discovery scan, so with
    * range-sorted files most are never opened. It is the row-level
    * writer's fold with only a predicate side: on a table carrying
    * row-level ([[mergeLite]]/[[deleteLite]]) state the fold and the
    * delete land in ONE version (a matching delta row drops without
    * resurrecting the base row it superseded), emitting a DV-free
    * manifest. Commits optimistically, re-discovering per attempt. For
    * SELECTIVE predicates on large tables prefer [[deleteWhereLite]],
    * which turns the match into tombstones instead of rewriting every
    * matched file. */
  def deleteWhere(
      spark: SparkSession, path: String, cond: Column): MergeStats =
    transact(spark, path, "deleteWhere")(RowLevel.fold(spark, path, _, Some(cond)))

  /** Rewrite the whole table into `numFiles` range-sorted files — the
    * [[Catalog.compact]] maintenance pass, expressed as a committed
    * version so readers never see the half-compacted state. */
  def compactTable(
      spark: SparkSession, path: String, sortCol: String,
      numFiles: Int): Snapshot =
    compactTableAt(spark, path, sortCol, numFiles, None)

  /** [[compactTable]] reading the file list AT `atVersion` (latest
    * when None).
    *
    * Commit target: the PLAIN path claims `snapshot.version + 1`, so a
    * concurrent merge/delete landing inside the read-rewrite window
    * conflicts LOUDLY (claiming past it would silently drop that
    * writer's rows from the new tip). A PINNED compaction claims
    * tip+1 instead — versions are a total order, so rows committed
    * after `atVersion` are deliberately absent from the new tip: only
    * pass a pinned version when every later commit is known
    * unpublished-and-awaiting-replay (the
    * [[graft.operators.DedupIndex.compact]] case, where index-level
    * writers are serialized by contract). */
  def compactTableAt(
      spark: SparkSession, path: String, sortCol: String,
      numFiles: Int, atVersion: Option[Long]): Snapshot =
    compact(spark, path, "compactTable", atVersion) { (frame, snap) =>
      // the caller names the sort column LOGICALLY; the frame (and the
      // stats the compaction establishes) speak PHYSICAL
      val pSort = physicalNameOf(spark, snap, sortCol)
      (frame.repartitionByRange(numFiles, col(pSort))
        .sortWithinPartitions(col(pSort)), Seq(pSort))
    }

  /** The one compaction body: `layout` turns the table's logical frame
    * into the rows to write, plus the physical columns whose manifest
    * stats the new layout ESTABLISHES (long-ordered or hex types only):
    * its per-file ranges are tight by construction, and every later
    * writer maintains them (carriedStats) — range/point predicates then
    * prune FILES at planning time, not tasks at run time. One attempt:
    * a lost race is a loud [[CommitConflict]], since re-running a whole
    * rewrite is the scheduler's call. */
  private def compact(
      spark: SparkSession, path: String, what: String, atVersion: Option[Long])(
      layout: (DataFrame, Snapshot) => (DataFrame, Seq[String])): Snapshot =
    transact(spark, path, what, attempts = 1) { tip =>
      val (fs, root) = fsOf(spark, path)
      val snap = atVersion.fold(tip)(snapshotAt(spark, path, _))
      // logicalFrame, not the bare base relation: a compaction of a table
      // carrying mergeLite delta state applies the key suppression and
      // absorbs the delta rows — the rewrite IS the fold
      val frame = logicalFrame(spark, snap)
      val (rows, statCols) = layout(frame, snap)
      val files = writeBatch(spark, fs, root, rows)
      commit(fs, root, Snapshot(tip.version + 1, files,
        stats = establishStats(spark, frame.schema, files, statCols),
        schemaJson = Some(asNullableSchema(frame.schema).json),
        colMap = snap.colMap))
    }

  /** The physical name of caller-facing `logical` — itself on unmapped
    * tables or unknown names (downstream surfaces the miss exactly as
    * before mapping existed). Matching honors the SESSION's resolver
    * (the relationFor convention): under the default case-insensitive
    * analysis, `TITLE` must address a column renamed to `title` just
    * as it would an unmapped column. A RENAMED column's old physical
    * name is refused rather than silently honored: it is not a live
    * logical name, and binding it would address the column under a
    * name the user just renamed away. */
  private def physicalNameOf(
      spark: SparkSession, snap: Snapshot, logical: String): String = {
    val resolver = spark.sessionState.conf.resolver
    if (snap.colMap.ren.isEmpty) logical
    else snap.colMap.ren.find(r => resolver(r._2, logical)).map(_._1)
      .getOrElse {
        snap.colMap.ren.keys.find(resolver(_, logical)).foreach(p =>
          throw new IllegalArgumentException(
            s"column '$logical' was renamed to " +
              s"'${snap.colMap.ren(p)}' — address it by the new name"))
        logical
      }
  }

  /** The per-file stats a compaction ESTABLISHES: footer ranges for
    * every named column whose Spark type is long-ordered, HEX-domain
    * bounds for STRING columns (files whose footer min/max are not
    * lowercase hex record nothing — so on a genuinely-hex key column
    * like content_hash every compacted file prunes, and on an ordinary
    * string column the attempt degrades to no stats, never wrong
    * ones); other types are silently skipped — documented at
    * [[statsSupported]]. A column yielding no usable footer range is
    * dropped whole. Names the stat-line codec cannot round-trip
    * ([[statColEncodable]]) are skipped here, BEFORE any data file is
    * written — encodeSnapshot's backstop would otherwise fail the
    * commit after the rewrite. */
  private def establishStats(
      spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      files: Seq[FileEntry], cols: Seq[String]): Seq[TableStats] = {
    val resolver = spark.sessionState.conf.resolver
    val resolved: Seq[(String, Boolean)] = cols.flatMap(c =>
      schema.find(f => resolver(f.name, c)).flatMap { f =>
        if (statsSupported(f.dataType)) Some(f.name -> false)
        else if (f.dataType == org.apache.spark.sql.types.StringType)
          Some(f.name -> true)
        else None
      }.filter(t => statColEncodable(t._1))).distinct
    if (resolved.isEmpty) return Nil
    val ranges = collectStats(
      spark.sparkContext.hadoopConfiguration, files, resolved)
    resolved.map { case (c, hex) =>
      TableStats(c, ranges.getOrElse(c, Map.empty), hex) }
      .filter(_.ranges.nonEmpty)
  }

  /** Z-ORDER compaction: rewrite the table clustered on the Morton
    * interleave of `zCols` (each min-max scaled to `bits` — the
    * OPTIMIZE ZORDER analog, [[graft.operators.Layout]]'s curve inside
    * the versioned-commit contract), and ESTABLISH manifest stats for
    * EVERY long-ordered z column: the curve gives each file a tight
    * range on all of them at once, so planning-time file skipping
    * works for predicates on ANY z column — not just a single sort
    * key. Same commit/conflict contract as [[compactTable]]. */
  def compactTableZOrder(
      spark: SparkSession, path: String, zCols: Seq[String],
      numFiles: Int, bits: Int = 16): Snapshot =
    compact(spark, path, "compactTableZOrder", None) { (frame, snap) =>
      val pZ = zCols.map(physicalNameOf(spark, snap, _)) // the compactTableAt rationale
      (graft.operators.Layout.zClustered(frame, pZ, numFiles, bits), pZ)
    }

  /** Delete data files no manifest-latest version references (orphans
    * from failed/superseded commits), and expired version manifests
    * whose data was reclaimed (bounding the version directory's
    * growth — Delta's log retention, miniature, but LIVENESS-GATED:
    * a version's manifest is swept only when at least one of its data
    * files is gone or going under this same cutoff, so on insert-only
    * lineages — where every old version's files stay live in the tip —
    * time travel is never narrowed by routine maintenance). Returns the
    * number of data files removed.
    *
    * `retainMillis` is the concurrency grace (Delta's VACUUM retention,
    * miniature): a merge/compact writes its batch files BEFORE its
    * commit wins, so a vacuum racing that writer would otherwise delete
    * files its about-to-win manifest references — silent corruption on
    * the next read. Files younger than the grace are kept regardless of
    * manifest membership. Pass 0 only when no writer can be in flight
    * (exclusive maintenance windows, tests).
    *
    * `keepVersions`: additional manifest versions whose files must
    * survive regardless of age — for layers that PIN a version other
    * than the tip (a [[graft.operators.DedupIndex]] composite pin can
    * lag the component tip while a crashed upsert awaits replay;
    * vacuuming to latest-only there would delete files the SERVING pin
    * references). Time travel to versions outside latest∪keepVersions
    * still ends, as documented. */
  def vacuum(
      spark: SparkSession, path: String,
      retainMillis: Long = DefaultRetainMillis,
      keepVersions: Seq[Long] = Nil): Int = {
    require(retainMillis >= 0, "retainMillis must be >= 0")
    val (fs, root) = fsOf(spark, path)
    val tip = snapshot(spark, path)
    val live = (tip.allFiles ++
      keepVersions.distinct.filterNot(_ == tip.version)
        .flatMap(v => snapshotAt(spark, path, v).allFiles))
      .map(normalize).toSet
    val dataDir = new Path(root, "data")
    if (!fs.exists(dataDir)) return 0
    val cutoff = System.currentTimeMillis() - retainMillis
    val all = fs.listStatus(dataDir).filter(_.isDirectory).flatMap(d =>
      fs.listStatus(d.getPath).filter(_.isFile))
      .filter(_.getPath.getName.startsWith("part-"))
    val dead = all
      .filter(_.getModificationTime <= cutoff)
      .map(_.getPath)
      .filterNot(p => live.contains(normalize(p.toString)))
    dead.foreach(p => fs.delete(p, false))
    // drop now-empty batch dirs
    fs.listStatus(dataDir).filter(_.isDirectory)
      .filter(d => fs.listStatus(d.getPath).isEmpty)
      .foreach(d => fs.delete(d.getPath, false))
    // one listing over _manifests sweeps both the `._v*_*.tmp` temps a
    // crashed commit strands AND expired version manifests beyond
    // tip ∪ keepVersions — the version-log retention (ManifestScaleDemo,
    // since removed:
    // git show c10dac1:src/main/scala/graft/ManifestScaleDemo.scala:
    // 1000 manifests swept in 0.2 s). Versions >= the resolved tip are
    // structurally protected (a concurrent writer's commit lands above
    // the tip), and the grace keeps a mid-commit writer's temp safe.
    // The liveness gate (`sweepable`) keeps time travel as wide as the
    // DATA allows: on insert-only lineages every old version's files
    // stay live in the tip, and sweeping their manifests would narrow
    // readAt/snapshotAt as a silent side effect of routine maintenance —
    // so a version's manifest is swept only when at least one of its
    // files was (or would be) reclaimed under this same cutoff. Cost:
    // one small manifest read per expired-but-kept candidate PER PASS —
    // on a lineage that rewrites (any merge hit, any compaction) the
    // superseded versions turn sweepable and each pass clears them, but
    // a PURE-insert lineage re-reads its whole retained history every
    // vacuum (1000 manifests ≈ 0.2 s, the measurement above; at 10k+
    // versions, compact — which any such table needs anyway for its
    // file count — and the next vacuum sweeps the backlog in one pass).
    Manifests.sweepLog(fs, manifestDir(root), cutoff,
      keepVersions.toSet, keepFrom = tip.version,
      sweepable = v =>
        try !decodeLines(Manifests.read(fs, manifestDir(root), v), v)
          .allFiles.forall(p => live.contains(normalize(p)))
        catch { // a racing sweeper already won; nothing left to delete
          case _: java.io.FileNotFoundException => false
        })
    // likewise `._bloom_*.tmp` stranded in the table root by a writer
    // that crashed between writeBloomProps' temp write and its link(2)
    // claim (writeBloomProps itself sweeps these on the retry path,
    // since a crashed FIRST init leaves no manifest for vacuum to open)
    sweepBloomTemps(fs, root, cutoff)
    dead.length
  }

  /** EXPLICIT version-log retention — the horizon-keyed trim
    * [[vacuum]]'s liveness gate deliberately never performs.
    *
    * Vacuum sweeps a version's manifest only when some of its DATA was
    * reclaimed, which keeps time travel as wide as the data allows —
    * but on the two lineage shapes where no data is ever reclaimed the
    * log grows O(files × versions) bytes forever: pure-insert lineages
    * (every old version's files stay live in the tip) and row-level
    * lineages between folds (mergeLite/deleteLite ADD delta/tombstone
    * files without retiring base files). Each manifest is the FULL
    * snapshot (entries + stats lines), so a 100k-file table committing
    * row-level batches every minute writes ~500k full snapshots a year
    * — real metadata storage, and a linearly slower `listVersions`
    * walk on every maintenance pass (Delta bounds the same growth with
    * `logRetentionDuration`; this is that knob, made explicit).
    *
    * `keepLast` names the TRAVEL HORIZON: the newest `keepLast`
    * committed versions survive (the tip always does — `keepLast >= 1`
    * enforced). Versions below the horizon are removed when they clear
    * three independent gates, each a different writer/reader protected:
    *  - `keepVersions`: session-pinned versions survive regardless of
    *    age (the [[vacuum]] convention — a composite-index pin or a
    *    serving reader's explicit version must never vanish under it);
    *    time travel to them keeps working because this trim never
    *    touches DATA files — reclaiming those stays vacuum's job, with
    *    its own liveness reasoning.
    *  - the structural floor: `keepFrom` is the oldest in-horizon
    *    version, so a commit LANDING DURING the trim (numbered above
    *    the resolved tip) can never be swept, even at
    *    `retainMillis = 0`.
    *  - the mtime grace: a manifest younger than `retainMillis` is
    *    kept even below the horizon — the same two-filesystem-ops
    *    guard as the data vacuum (a reader that resolved a version
    *    list moments ago may still be opening one of these files; the
    *    bounded [[Manifests.latestLines]] retry covers the tip, the
    *    grace covers pinned-version readers).
    *
    * Travel to a trimmed version thereafter fails LOUDLY with the
    * crafted "reclaimed by the retention sweep" message
    * ([[Manifests.readPinned]]) — as does a [[changesBetween]] /
    * [[deletesBetween]] window whose `fromV` fell below the horizon:
    * CDF consumers must keep their cursor inside the retention window,
    * exactly Delta's CDF-vs-log-retention contract.
    *
    * Returns the number of version manifests removed. One
    * `listStatus` + one delete per swept version; no data IO, no
    * manifest reads (unlike vacuum's liveness probe, the horizon rule
    * needs only names and mtimes). Schedule with [[vacuum]] — or let
    * [[maintain]] drive both from one policy. */
  def trimLog(
      spark: SparkSession, path: String, keepLast: Int,
      retainMillis: Long = DefaultRetainMillis,
      keepVersions: Seq[Long] = Nil): Int = {
    require(keepLast >= 1, "keepLast must be >= 1 (the tip always survives)")
    require(retainMillis >= 0, "retainMillis must be >= 0")
    val (fs, root) = fsOf(spark, path)
    val dir = manifestDir(root)
    val versions = Manifests.listVersions(fs, dir)
    if (versions.isEmpty) return 0
    val keepFrom = versions.takeRight(keepLast).head
    Manifests.sweepLog(fs, dir,
      System.currentTimeMillis() - retainMillis,
      keepVersions.toSet, keepFrom = keepFrom)
  }

  /** Budgets for ONE scheduled [[maintain]] pass — every threshold
    * `Option`al, `None` = that branch never runs. The defaults make
    * `MaintenancePolicy()` a safe no-op-ish sweep: rescope when
    * unscoped (one discovery scan, no data write) and vacuum at the
    * standard grace; folding, compaction and log-trimming are opt-in
    * because their budgets are table-shape judgments the operator
    * owns (a fold rewrites the scope, a compaction rewrites the
    * table, a trim narrows time travel). */
  final case class MaintenancePolicy(
      rescope: Boolean = true,
      foldAtTombstoneRows: Option[Long] = None,
      compactAtFiles: Option[Int] = None,
      compactSortCol: Option[String] = None,
      compactTargetFiles: Option[Int] = None,
      vacuumRetainMillis: Option[Long] = Some(DefaultRetainMillis),
      logKeepLast: Option[Int] = None,
      keepVersions: Seq[Long] = Nil)

  /** What one [[maintain]] pass actually did. `before` is the
    * [[describe]] the decisions were made from (so a scheduler's log
    * shows WHY each branch fired); `endVersion` the tip after the
    * pass. */
  final case class MaintenanceReport(
      before: TableInfo,
      rescoped: Boolean,
      folded: Option[MergeStats],
      compactedToVersion: Option[Long],
      dataFilesReclaimed: Int,
      manifestsTrimmed: Int,
      endVersion: Long)

  /** ONE scheduled maintenance entry point — the operator loop's
    * parts ([[describe]] → [[rescopeDelta]] → [[foldRowLevel]] →
    * [[compactTable]] → [[vacuum]] → [[trimLog]]) composed in their
    * canonical order, each branch gated by the policy's budgets, and
    * a report of what ran. A 100 TB deployment schedules THIS per
    * table instead of five calls whose ordering subtleties
    * (rescope-before-fold is wasted work, compact absorbs row-level
    * state, vacuum's grace vs a trim's horizon) every operator would
    * otherwise rediscover.
    *
    * Branch semantics, in execution order:
    *  - RESCOPE runs when the tip carries an unscoped delta
    *    ([[RowLevelPressure.unscoped]]) — EXCEPT when this same pass
    *    will fold OR compact: both rewrite the files and drop the
    *    row-level state the rescope would have annotated, so the
    *    discovery scan would be paid twice for one outcome. (The
    *    compact gate here reads `before`'s file count; if the fold
    *    shrinks the table under `compactAtFiles` and the compaction
    *    then does not fire, the skipped rescope simply runs on the
    *    next pass — a one-pass delay, never a wrong state.)
    *  - FOLD ([[foldRowLevel]]) runs when tombstone rows exceed
    *    `foldAtTombstoneRows` — the fold-before-the-cliff policy:
    *    delete-heavy tables creep toward the maxDeltaRows budget one
    *    small deleteLite at a time — using the pressure counts
    *    `before` already paid for, no second footer pass.
    *    EXCEPT when the compaction branch will also fire: the
    *    compaction rewrite folds the row-level state itself
    *    ([[compactTableAt]] rewrites from the logical frame), so the
    *    pass runs ONE full rewrite, not two — the report then shows
    *    `folded = None` with `compactedToVersion` set, and the tip is
    *    row-level-free either way.
    *  - COMPACT runs when the CURRENT base file count (re-read after
    *    a fold may have changed it — one manifest read, no data IO)
    *    exceeds `compactAtFiles` — or unconditionally when it absorbed
    *    the fold above; requires `compactSortCol` and
    *    `compactTargetFiles` (refused loudly up front, not when the
    *    threshold eventually trips in production).
    *  - VACUUM at `vacuumRetainMillis`, then TRIM at `logKeepLast`,
    *    both honoring `keepVersions` — the pins survive data
    *    reclamation AND log retention.
    *
    * Each branch is the underlying operation unchanged — same OCC,
    * same refusals, same stats — so everything spec-pinned about the
    * parts holds under the composition. */
  def maintain(
      spark: SparkSession, path: String,
      policy: MaintenancePolicy = MaintenancePolicy()): MaintenanceReport = {
    if (policy.compactAtFiles.isDefined)
      require(policy.compactSortCol.isDefined &&
        policy.compactTargetFiles.isDefined,
        "compactAtFiles set without compactSortCol/compactTargetFiles — " +
          "the compaction branch needs a layout to rewrite INTO; refusing " +
          "up front rather than when the threshold first trips")
    val before = describe(spark, path)
    val willFold =
      policy.foldAtTombstoneRows.exists(before.pressure.tombstoneRows > _)
    val mayCompact = policy.compactAtFiles.exists(before.baseFiles > _)
    // When the fold AND the compaction would both fire in this pass,
    // the compaction ABSORBS the fold: compactTableAt rewrites from
    // logicalFrame (key suppression applied, delta and tombstones
    // folded — "the rewrite IS the fold"), so running foldRowLevel
    // first would pay a second full-table rewrite for the same end
    // state (guide §1.2: one outcome, one pass). The report then
    // carries `folded = None` with `compactedToVersion` set — the
    // row-level state is provably gone from the tip either way.
    val foldAbsorbed = willFold && mayCompact
    val rescoped =
      if (policy.rescope && before.pressure.unscoped && !willFold &&
          !mayCompact)
        rescopeDelta(spark, path).version != before.version
      else false
    val folded =
      if (willFold && !foldAbsorbed) Some(foldRowLevel(spark, path)) else None
    val compacted = policy.compactAtFiles.flatMap { maxFiles =>
      val files = snapshot(spark, path).entries.size
      // the absorbed fold MUST compact even if a hypothetical plain
      // fold would have shrunk the table under the file threshold —
      // the rewrite is what clears the row-level state this pass
      // promised to clear
      if (files > maxFiles || foldAbsorbed)
        Some(compactTable(spark, path, policy.compactSortCol.get,
          policy.compactTargetFiles.get).version)
      else None
    }
    val reclaimed = policy.vacuumRetainMillis
      .map(r => vacuum(spark, path, r, policy.keepVersions)).getOrElse(0)
    val trimmed = policy.logKeepLast
      .map(k => trimLog(spark, path, k,
        policy.vacuumRetainMillis.getOrElse(DefaultRetainMillis),
        policy.keepVersions))
      .getOrElse(0)
    MaintenanceReport(before, rescoped, folded, compacted, reclaimed,
      trimmed, snapshot(spark, path).version)
  }

  private def latestVersion(fs: FileSystem, root: Path): Option[Long] =
    Manifests.latestVersion(fs, manifestDir(root))

  /** One write = one batch directory; the manifest references its
    * part files individually. Applies the table's persisted bloom
    * config (see [[init]]) so every writer path — merge, delete,
    * compact — maintains the filters without the caller threading
    * options through. */
  private[sources] def writeBatch(
      spark: SparkSession, fs: FileSystem, root: Path,
      df: DataFrame, keyOnly: Boolean = false): Seq[FileEntry] = {
    // manifest-line safety of the path\tsize codec needs no runtime
    // guard: every stored path comes from getPath.toUri.toString, and
    // hadoop Path builds its URI through the quoting multi-arg URI
    // constructor — a literal tab in a user-supplied root is stored as
    // %09, so a raw tab can never reach a manifest line
    val batch = new Path(new Path(root, "data"),
      "batch-" + java.util.UUID.randomUUID().toString)
    val bloomAll = readBloomProps(fs, root)
    // Key-only files (tombstone sets, surviving-key re-writes) carry
    // the key columns BY DESIGN, never the full schema — for them the
    // bloom config intersects with the frame (a non-key bloom column
    // simply has no data to filter here), while full-width writers
    // keep the strict guard: a MISSING bloom column there means
    // parquet-mr would silently skip the filter on real data.
    val bloom =
      if (keyOnly) bloomAll.filter(df.columns.contains)
      else bloomAll
    // PERSISTED-config-vs-frame mismatch is table state, not a caller
    // argument: IllegalStateException, so the KB/JobProcessor TOCTOU
    // fallbacks (which catch IllegalArgumentException) can't bury the
    // actionable message under the fallback merge's "no merge table"
    bloom.filterNot(df.columns.contains).foreach { c =>
      throw new IllegalStateException(
        s"bloom column $c (persisted table config at ${bloomPropsPath(root)}) " +
          "missing from the batch being written — parquet-mr would silently " +
          "skip the filter; the table's writers must carry the full schema")
    }
    graft.util.ParquetBloom.writeOptions(df.write.mode("errorifexists"), bloom)
      .parquet(batch.toString)
    // the post-write listStatus is where the manifest's exact sizes come
    // from — what lets every later read skip the listing job entirely
    fs.listStatus(batch)
      .filter(s => s.getPath.getName.startsWith("part-") &&
        s.getPath.getName.endsWith(".parquet"))
      .map(s => FileEntry(s.getPath.toUri.toString, s.getLen))
      .toSeq.sortBy(_.path)
  }

  private def bloomPropsPath(root: Path) = new Path(root, "_bloom.properties")

  /** Table-lifetime bloom config: established by [[init]] (the table's
    * key columns never change — evolution only ADDS non-key columns),
    * read by every [[writeBatch]]. Format: one column name per line, sorted,
    * closed by a `#end` terminator line — the validity sentinel that
    * lets [[readBloomProps]] distinguish a complete file from one TORN
    * by a hard crash mid-write on the no-hardlink publication fallback
    * (the one path where a fixed-name target can be left partial;
    * `Manifests.publishExclusive`). Unlike a torn uniquely-named
    * manifest, a torn fixed-name CONFIG would silently misconfigure
    * every later writer with the prefix of the column list, so the
    * reader fails loudly instead of returning partial columns.
    *
    * IDEMPOTENT and race-safe: init can fail AFTER this file exists
    * but BEFORE the v1 manifest commits (a mid-writeBatch crash), and
    * two concurrent first writers can both reach here before either
    * commits (the KnowledgeBase TOCTOU fallback depends on the init
    * loser failing at the MANIFEST commit, where the catch routes it
    * to merge — not here). A leftover/concurrent file with the SAME
    * columns is therefore tolerated; different columns throw a LOUD
    * [[IllegalStateException]] — deliberately NOT the
    * IllegalArgumentException the KB fallback catches, so the
    * actionable message is never buried under a misleading
    * "no merge table" from the fallback merge. Publication reuses the
    * manifest commit primitive ([[Manifests.publishExclusive]]:
    * link(2)-exclusive — plain rename would silently OVERWRITE on
    * POSIX and the loser would never learn it lost), so concurrent
    * readers see the whole file or none, never a torn one. */
  private def writeBloomProps(
      fs: FileSystem, root: Path, cols: Seq[String]): Unit = {
    cols.foreach { c =>
      require(c.nonEmpty && c == c.trim && !c.contains("\n") && !c.startsWith("#"),
        s"bloom column name not encodable in the properties line " +
          s"(empty, padded, multi-line, or '#'-prefixed — '#' opens the " +
          s"format's terminator sentinel): '$c'")
    }
    val want = cols.distinct.sorted
    val target = bloomPropsPath(root)
    def requireSame(): Unit = {
      val have = readBloomProps(fs, root).sorted
      if (have != want) throw new IllegalStateException(
        s"bloom config at $target already exists with different columns " +
          s"([${have.mkString(",")}] vs requested [${want.mkString(",")}]) — " +
          "a failed or concurrent init used other keys; delete the path " +
          "deliberately to change a table's bloom columns")
    }
    if (fs.exists(target)) { requireSame(); return }
    // a crashed earlier init can strand a publication temp HERE, before
    // any manifest exists — and vacuum requires a committed table, so
    // the retry path is the only sweeper that can reach it
    sweepBloomTemps(fs, root,
      System.currentTimeMillis() - DefaultRetainMillis)
    fs.mkdirs(root) // first init: the publication temp needs the dir
    try Manifests.publishExclusive(fs, target, "._bloom_",
      (want.mkString("", "\n", "\n") + BloomTerminator + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      // lost the publication race: keep the winner's file if it agrees
      case _: FileAlreadyExistsException => requireSame()
    }
  }

  private def sweepBloomTemps(fs: FileSystem, root: Path, cutoff: Long): Unit =
    Manifests.sweepTemp(fs, root, cutoff, prefix = "._bloom")

  /** The bloom-config validity sentinel: the file's final line. Its
    * absence means the bytes are a torn PREFIX of a real config (every
    * writer emits it last), so the reader throws instead of adopting
    * partial column names as table config.
    *
    * Deliberately FAIL-CLOSED for configs written by a pre-terminator
    * version of this format (no automatic legacy acceptance, unlike
    * size-less manifests, which fall back to the listing path): a
    * terminator-less file is byte-indistinguishable from a torn one,
    * and silently adopting a torn config misconfigures every later
    * writer — the worse failure. The error message carries the exact
    * one-line migration step (append `#end`). */
  private val BloomTerminator = "#end"

  private def readBloomProps(fs: FileSystem, root: Path): Seq[String] = {
    val p = bloomPropsPath(root)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val text =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val lines = text.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
    if (lines.lastOption.contains(BloomTerminator)) lines.init
    else throw new IllegalStateException(
      s"bloom config at $p is torn or foreign (missing the '$BloomTerminator' " +
        "terminator line): either a hard crash mid-write on a filesystem " +
        "without atomic publication, or a complete config written by a " +
        "pre-terminator version of this library — the two are " +
        "indistinguishable, and adopting a torn file's partial column list " +
        s"would misconfigure every later writer. If the column list is " +
        s"known-complete, MergeTable.adoptBloomConfig(path) validates it " +
        s"against the table schema and republishes it terminated (or " +
        s"append a '$BloomTerminator' line by hand); otherwise recover " +
        "the intended config, or delete the file deliberately for a " +
        "bloom-less table")
  }

  /** The one commit every MergeTable version goes through: records
    * `next`'s state — its entries, delta and tombstones sized by the
    * legacy migration ([[withSizes]]) — and claims `next.version` by
    * exclusive create ([[Manifests.commit]]: atomic on HDFS-like
    * filesystems and on the local filesystem via temp file + link(2)).
    * Losing the claim is a loud FileAlreadyExistsException for
    * [[transact]] or [[commitOrRebase]] to handle. Returns the snapshot
    * as committed. */
  private[sources] def commit(fs: FileSystem, root: Path, next: Snapshot): Snapshot = {
    commitRaceHookForTest()
    val sized = next.copy(entries = withSizes(fs, next.entries),
      delta = withSizes(fs, next.delta), deletes = withSizes(fs, next.deletes))
    Manifests.commit(fs, manifestDir(root), sized.version, encodeSnapshot(sized))
    sized
  }

  /** The one OCC loop: runs `attempt` against a fresh snapshot of the
    * table until its commit wins the version claim, at most `attempts`
    * times (a lost claim is a FileAlreadyExistsException out of
    * [[commit]]), then throws [[CommitConflict]]. An attempt that loses
    * leaves only unreferenced files, which [[vacuum]] reclaims. */
  private[sources] def transact[A](
      spark: SparkSession, path: String, what: String,
      attempts: Int = CommitAttempts)(attempt: Snapshot => A): A = {
    var n = 0
    while (n < attempts) {
      n += 1
      try return attempt(snapshot(spark, path))
      catch {
        case _: FileAlreadyExistsException => // lost the claim: re-snapshot
      }
    }
    throw new CommitConflict(
      s"$what at $path lost $attempts optimistic commit(s) in a row to " +
        "concurrent writers; re-run")
  }
}
