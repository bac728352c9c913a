package graft.sources

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Cross-component consistency for multi-table serving indexes — the
  * manifest level ABOVE [[MergeTable]], and the one write protocol of
  * every persisted index family: [[graft.operators.LexicalIndex]]
  * (postings/doclens/termdf), [[graft.operators.DedupIndex]]
  * (bands/shingles/params), [[graft.operators.SemanticIndex]]
  * (vectors/centroids), [[graft.operators.ImageDedupIndex]]
  * (bands/params) and [[graft.operators.SimHashIndex]] (the image
  * layout, text kernels).
  *
  * A serving index made of several MergeTables has each component
  * commit atomically but nothing tying the components together: a
  * reader racing a writer could see component A at the new version and
  * component B at the old one — for a dedup index that silently drops
  * verification rows, for a BM25 index it silently skews df/N/avgdl
  * statistics. This layer adds `path/_manifests/v<N>`, each version
  * one line per component `name=<dir>@<version>` ([[CompositeIndex.Ref]]):
  * writers advance components FIRST (individually atomic, invisible)
  * and publish them with ONE composite commit ([[write]]); readers
  * resolve the latest composite ONCE ([[pin]]) and read every component
  * at its pinned dir+version. Index-level writers must be serialized (one
  * maintenance stream per index); a second concurrent writer loses the
  * composite commit race LOUDLY ([[MergeTable.CommitConflict]]), never
  * silently. A writer crash between component commits and the
  * composite commit leaves new component versions unpublished —
  * readers stay on the old pin, and the replayed batch's keyed merges
  * converge before the next composite commit publishes them (the
  * at-least-once contract).
  *
  * Component directories are BUILD-UNIQUE (`<name>-<token>`): a racing
  * [[build]] stages into its own token dirs and can never re-create
  * another build's paths, which makes the double-build caller error
  * impossible-or-loud instead of silently corrupting. Pre-token
  * manifest lines (`name=<version>`) still resolve, with the dir
  * defaulting to the component's fixed legacy name; [[migrate]]
  * publishes a pre-composite legacy layout.
  *
  * Same publication model as Delta/Iceberg metadata commits (via
  * [[Manifests]]), applied one level up: the "files" of a composite
  * version are component versions. */
object CompositeIndex {

  /** One pinned component: the directory it lives in (relative to the
    * index path) and the [[MergeTable]] version to read it at. */
  final case class Ref(dir: String, version: Long)

  /** One composite index version: the component refs that together
    * form a consistent state. Readers resolve a pin ONCE and read
    * every component at its pinned dir+version. */
  final case class Pin(version: Long, refs: Map[String, Ref]) {
    def apply(name: String): Ref = refs(name)
  }

  /** One manifest line: `<name>=<dir>@<version>`; bare
    * `<name>=<version>` is a pre-token manifest, whose component lives
    * at the fixed legacy name (the name itself). */
  private def parseRef(line: String): (String, Ref) = {
    val Array(k, rhs) = line.split("=", 2)
    k -> (rhs.split("@", 2) match {
      case Array(d, ver) => Ref(d, ver.toLong)
      case Array(ver) => Ref(k, ver.toLong)
    })
  }

  private def manifestDir(spark: SparkSession, path: String) = {
    val dir = new Path(path, "_manifests")
    (dir.getFileSystem(spark.sessionState.newHadoopConf()), dir)
  }

  /** The latest committed composite version, via
    * [[Manifests.latestLines]]'s swept-tip retry (the pin-log retention
    * in [[CompositeIndex.vacuum]] can reclaim a just-superseded pin
    * between a reader's resolve and read). The retry covers the pin
    * manifest only; the pinned component reads carry the
    * component-level retention contract. */
  private def latest(spark: SparkSession, path: String, label: String): Pin = {
    val (fs, dir) = manifestDir(spark, path)
    val (v, lines) = Manifests.latestLines(fs, dir)(
      throw new IllegalArgumentException(s"no $label at $path"))
    Pin(v, lines.map(parseRef).toMap)
  }

  /** Absolute path of component `name` of the index at `path`, at its
    * current pin (test and diagnostic access — component dirs are
    * build-unique, never assume a name). */
  private[graft] def pinnedPath(spark: SparkSession, path: String, name: String): String = {
    val p = latest(spark, path, "composite index")
    require(p.refs.contains(name), s"composite index at $path has no component $name")
    s"$path/${p(name).dir}"
  }
}

/** The composite-manifest operations for one index layout. `label` is
  * the index kind in error messages ("dedup index", "lexical index");
  * `componentNames` fix the layout (also the legacy fixed dir names
  * and the token-dir prefixes). */
final class CompositeIndex(label: String, componentNames: Seq[String]) {
  import CompositeIndex._

  require(componentNames.nonEmpty && componentNames.distinct == componentNames,
    s"componentNames must be distinct and non-empty: $componentNames")

  def componentPath(path: String, dir: String): String = s"$path/$dir"

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, dir) = manifestDir(spark, path)
    Manifests.latestVersion(fs, dir).isDefined
  }

  /** The latest committed composite version, every component of the
    * layout present. */
  def pin(spark: SparkSession, path: String): Pin = {
    val p = latest(spark, path, label)
    componentNames.foreach(n => require(p.refs.contains(n),
      s"$label at $path: composite v${p.version} is missing component $n"))
    p
  }

  /** Read one component at its pinned dir+version. */
  def readAt(spark: SparkSession, path: String, p: Pin, name: String): DataFrame =
    MergeTable.readAt(spark, componentPath(path, p(name).dir), p(name).version)

  /** The ONE commit that publishes a new index state. Exclusive-create
    * (the [[Manifests]] OCC primitive); losing the race means a second
    * index-level writer, which the contract forbids — fail loudly. */
  private def commitPin(
      spark: SparkSession, path: String, version: Long,
      refs: Map[String, Ref]): Unit = {
    require(refs.keySet == componentNames.toSet,
      s"refs must cover exactly $componentNames, got ${refs.keySet}")
    val (fs, dir) = manifestDir(spark, path)
    try Manifests.commit(fs, dir, version,
      componentNames.map(n => s"$n=${refs(n).dir}@${refs(n).version}"))
    catch {
      case _: FileAlreadyExistsException =>
        throw new MergeTable.CommitConflict(
          s"$label at $path has a concurrent index-level writer " +
            s"(composite v$version already claimed); serialize writers — " +
            "one maintenance stream per index")
    }
  }

  /** The one index-level write: resolve the pin ONCE, run the family's
    * component writes against it (`components` returns the version
    * each written component reached), and publish the successor pin
    * only when some component version moved — untouched components
    * carry over, and a write that moved nothing publishes nothing (a
    * replayed or empty-effect batch must not grow the composite log). */
  def write(spark: SparkSession, path: String)(
      components: Pin => Map[String, Long]): Unit = {
    val p0 = pin(spark, path)
    val versions = components(p0)
    require(versions.keySet.subsetOf(componentNames.toSet),
      s"unknown components ${versions.keySet -- componentNames}")
    val moved = versions.collect {
      case (n, v) if v != p0(n).version => n -> Ref(p0(n).dir, v)
    }
    if (moved.nonEmpty) commitPin(spark, path, p0.version + 1, p0.refs ++ moved)
  }

  /** One component's share of an incremental batch: drop the rows whose
    * `retractCol` is in `retract`, then merge `updates` by `keyCols`.
    * The retraction is split at [[graft.util.Pushdown.RetractChunk]]
    * literals (past a few thousand, an isin list costs more in analysis
    * than it prunes): every chunk but the last is a predicate delete of
    * its own, and the last (usually only) one rides the merge's version
    * ([[MergeTable.merge]]'s predicate side) — or is a delete alone
    * when there are no updates. Returns the component version to
    * publish — the pinned one, nothing committed, when the batch has
    * neither side. */
  def writeComponent(
      spark: SparkSession, path: String, p: Pin, name: String,
      updates: Option[DataFrame], keyCols: Seq[String],
      retract: Seq[Any], retractCol: String = "id"): Long = {
    val cPath = componentPath(path, p(name).dir)
    val chunks = retract.grouped(graft.util.Pushdown.RetractChunk)
      .map(c => col(retractCol).isin(c: _*)).toSeq
    val v0 = chunks.dropRight(1).foldLeft(p(name).version)((_, c) =>
      MergeTable.deleteWhere(spark, cPath, c).version)
    updates match {
      case Some(u) => MergeTable.merge(spark, cPath, u, keyCols, where = chunks.lastOption).version
      case None => chunks.lastOption.fold(v0)(MergeTable.deleteWhere(spark, cPath, _).version)
    }
  }

  /** Remove `ids` from the named id-keyed components, in order, under
    * ONE composite version. Ids absent from the index are no-ops; an
    * all-absent batch publishes nothing. */
  def deleteIds(spark: SparkSession, path: String, ids: Seq[Any],
      components: Seq[String]): Unit =
    if (ids.nonEmpty) write(spark, path)(p => components.map(n =>
      n -> writeComponent(spark, path, p, n, None, Nil, ids)).toMap)

  /** Range-sort component `name` on `sortCol` into `numFiles` files so
    * probes prune files from parquet footers alone, published with one
    * composite commit. The rewrite reads the component AT THE PINNED
    * version, not component-latest: an upsert that crashed between its
    * component writes and its composite commit leaves newer UNPUBLISHED
    * component versions, and compacting those would publish the crashed
    * batch's rows against the other components' OLD pinned state — the
    * exact mixed state the composite manifest exists to prevent. The
    * compacted rewrite becomes the component's new tip, superseding the
    * crashed commit's rows there; that is safe because unpublished rows
    * are, by the at-least-once contract, awaiting a replay that
    * re-merges them. */
  def compact(spark: SparkSession, path: String, name: String,
      sortCol: String, numFiles: Int): Unit =
    write(spark, path)(p => Map(name -> MergeTable.compactTableAt(spark,
      componentPath(path, p(name).dir), sortCol, numFiles, Some(p(name).version)).version))

  /** The CHEAP preconditions of [[build]] — no index published, no
    * refused legacy layout — exposed so an index can fail fast BEFORE
    * its corpus-scale staging scan (tokenization, shingling) instead
    * of after it. [[build]] re-checks both under its own ordering. */
  def requireBuildable(spark: SparkSession, path: String): Unit = {
    require(!exists(spark, path), s"$label already exists at $path")
    val rootP = new Path(path)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val legacy = componentNames.filter(n => fs.exists(new Path(rootP, n)))
    require(legacy.isEmpty,
      s"$path holds pre-composite component tables (${legacy.mkString(", ")}) " +
        "with no composite manifest — a legacy-layout index or a crashed " +
        "legacy build; build() will not destroy it. Run migrate to publish " +
        "it, or delete the directory deliberately to rebuild")
  }

  /** Scaffolded CREATE-INDEX: verifies no index exists, REFUSES a
    * pre-composite legacy layout (it cannot be told apart from a
    * crashed legacy build, so it must never be deleted — see
    * [[migrate]]), clears unpublished token-dir leftovers (with a
    * manifest re-check immediately before each delete, so a build that
    * committed since the initial check is never swept), stages the
    * components via `init` (component name → staging dir, returning
    * each component's committed version), publishes ONE composite v1,
    * and reads back every pinned component so a racer's sweep turns
    * into a loud failure, never a silently-broken published index.
    *
    * Two RACING builds are a caller error made impossible-or-loud by
    * the build-unique staging dirs: a racer can DELETE this build's
    * dirs (reads then fail loudly, dir gone) but can never RE-CREATE
    * them with its own data — wrong content behind a committed pin
    * cannot happen. The composite-commit loser reclaims its private
    * dirs only after proving the published pin is absent-or-someone-
    * else's (an exception can surface after the manifest became
    * durable), and rethrows. */
  def build(
      spark: SparkSession, path: String)(
      init: Map[String, String] => Map[String, Long]): Pin = {
    requireBuildable(spark, path)
    val (mfs, mdir) = manifestDir(spark, path)
    val rootP = new Path(path)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(rootP)) {
      val leftovers = fs.listStatus(rootP).map(_.getPath)
        .filter(p => componentNames.exists(n =>
          p.getName.matches(s"$n-[0-9a-f]+")))
      if (leftovers.nonEmpty) {
        require(Manifests.latestVersion(mfs, mdir).isEmpty,
          s"$label already exists at $path")
        leftovers.foreach(p => fs.delete(p, true))
      }
    }
    val token = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val dirs = componentNames.map(n => n -> s"$n-$token").toMap
    val versions = init(dirs)
    require(versions.keySet == componentNames.toSet,
      s"$label at $path: init must version exactly $componentNames, " +
        s"got ${versions.keySet}")
    val refs = componentNames.map(n => n -> Ref(dirs(n), versions(n))).toMap
    try commitPin(spark, path, 1L, refs)
    catch {
      case scala.util.control.NonFatal(e) =>
        val safeToReclaim =
          try Manifests.latestVersion(mfs, mdir) match {
            case None => true
            case Some(_) =>
              pin(spark, path)(componentNames.head).dir !=
                dirs(componentNames.head)
          }
          catch { case scala.util.control.NonFatal(_) => false }
        if (safeToReclaim)
          dirs.values.foreach(d => fs.delete(new Path(rootP, d), true))
        throw e
    }
    val committed = pin(spark, path)
    componentNames.foreach(n =>
      MergeTable.snapshotAt(spark,
        componentPath(path, committed(n).dir), committed(n).version))
    committed
  }

  /** Publish a PRE-COMPOSITE legacy index (components at the fixed
    * names, each MergeTable-committed, no composite manifest) under
    * the composite-manifest contract: one composite v1 pinning each
    * component at its current latest version. [[build]] refuses such a
    * layout rather than destroy it; this is the upgrade path. */
  def migrate(spark: SparkSession, path: String): Unit = {
    val (mfs, mdir) = manifestDir(spark, path)
    require(Manifests.latestVersion(mfs, mdir).isEmpty,
      s"$label at $path already has a composite manifest")
    val refs = componentNames.map { n =>
      val cp = componentPath(path, n)
      require(MergeTable.exists(spark, cp),
        s"nothing to migrate: no committed $n component at $path")
      n -> Ref(n, MergeTable.snapshot(spark, cp).version)
    }.toMap
    commitPin(spark, path, 1L, refs)
  }

  /** Maintenance sweep over the whole index: vacuum each PINNED
    * component table (data files neither the component tip nor the
    * serving pin references — [[MergeTable.vacuum]] with the pin in
    * `keepVersions`; older composite pins' time travel ends, the same
    * retention semantics), delete component token dirs the current pin
    * does not reference — orphans of a build that crashed or lost the
    * v1 race after staging, which no other path can reclaim once the
    * index exists (dirs are fixed for the index's lifetime, so the
    * current pin IS the full referenced set) — and sweep manifest temp
    * files stranded in the composite dir, which the component-level
    * sweeps never visit.
    *
    * `retainMillis` is the shared concurrency grace: a token dir
    * younger than it may be a build mid-staging and is kept. Returns
    * the number of orphan dirs removed. */
  def vacuum(
      spark: SparkSession, path: String,
      retainMillis: Long = 15L * 60L * 1000L): Int = {
    require(retainMillis >= 0, "retainMillis must be >= 0")
    val p0 = pin(spark, path)
    // cutoff is fixed HERE, before the component vacuums: those can take
    // minutes on a large index, and a cutoff computed after them would
    // swallow that elapsed time out of the grace — a pin committed
    // mid-maintenance could age past a late-computed cutoff and be
    // swept (the keepFrom floor below also protects it structurally)
    val cutoff = System.currentTimeMillis() - retainMillis
    componentNames.foreach(n =>
      MergeTable.vacuum(spark, componentPath(path, p0(n).dir), retainMillis,
        keepVersions = Seq(p0(n).version)))
    val referenced = componentNames.map(n => p0(n).dir).toSet
    val rootP = new Path(path)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val orphans = fs.listStatus(rootP)
      .filter(_.isDirectory)
      .filter(st => componentNames.exists(n =>
        st.getPath.getName.matches(s"$n-[0-9a-f]+")))
      .filterNot(st => referenced.contains(st.getPath.getName))
      .filter(_.getModificationTime <= cutoff)
    orphans.foreach(st => fs.delete(st.getPath, true))
    val (mfs, mdir) = manifestDir(spark, path)
    // one listing sweeps the composite dir's stranded commit temps AND
    // its pin-log retention: the log grows one manifest per upsert/
    // compact (commitPin), and every pin() resolution listStatus-walks
    // it — the same unbounded growth the component-level vacuum bounds
    // one layer down. Expired pins below the serving pin are swept
    // (keepFrom = p0.version structurally protects the serving pin and
    // anything committed during this maintenance pass). The component
    // vacuums above run under their own, later cutoffs, so an old pin
    // can briefly outlive the component state it references (until the
    // next vacuum) — harmless, since pin() only ever resolves the
    // latest: a surviving old pin is unreadable history either way.
    Manifests.sweepLog(mfs, mdir, cutoff, Set.empty, keepFrom = p0.version)
    orphans.length
  }
}
