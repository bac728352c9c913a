package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import MergeTable._

/** The one row-level writer: [[MergeTable.applyChanges]], and through it
  * [[MergeTable.mergeLite]] (no delete side), [[MergeTable.deleteLite]]
  * (no upsert side) and [[MergeTable.merge]] (no delete side, a zero
  * row budget: every call folds). [[MergeTable.foldRowLevel]] runs its
  * fold with no side at all ([[fold]]), and [[MergeTable.deleteWhere]]
  * the same fold with only a PREDICATE side; [[MergeTable.merge]] takes
  * that side too. A call's upserts, deletes and predicate land in ONE
  * manifest version — Delta's one-log-entry transaction of adds and
  * removes — so no reader can pin a version holding half of it.
  *
  * Per attempt the writer takes one snapshot and, for the union `ks` of
  * both key sets, runs one probe over the delta and one over the
  * tombstones. Those two counts decide everything else without a job:
  *
  *  - the new DELTA is the prior delta minus `ks`, plus the upserts. A
  *    delta `ks` does not touch is carried by reference and the upserts
  *    append as their own file set (O(batch) per commit for a
  *    sustained stream); a touched delta, or one at the `maxDeltaFiles`
  *    cap, re-writes combined (small by `maxDeltaRows`);
  *  - the new TOMBSTONES are the prior tombstones minus `ks`, plus the
  *    deletes: a re-inserted key leaves the tombstone set in the commit
  *    that re-inserts it, and a deleted delta key moves delta→tombstones
  *    (its base row must stay suppressed). The two sets stay disjoint,
  *    and the tombstones stay ONE key-only file — narrow rows, so
  *    re-writing the accumulated set costs little next to the delta;
  *  - once the new delta + tombstone rows would pass `maxDeltaRows`, the
  *    call FOLDS instead: one rewrite merge of the new delta that drops
  *    every tombstoned row, emitting a DV-free manifest. Under a zero
  *    budget the probes are skipped and every call folds;
  *  - a PREDICATE side (zero budget only) drops the rows of the PRIOR
  *    state it matches — base survivors and prior delta rows, never the
  *    call's own upserts — inside that fold. The fold's anti-join key
  *    set stays the unfiltered new delta's keys, so a delta row the
  *    predicate drops keeps its superseded base row dropped: the
  *    predicate can never resurrect a row.
  *
  * The suppression is SCOPED as every row-level commit is: the prior
  * scope plus the base files a cheap point probe proves hold a key of
  * `ks` (single key column, ≤ [[KeySet.DiscoveryInLimit]] keys); larger
  * sets commit unscoped rather than scan the base key column on the
  * write path, and [[MergeTable.rescopeDelta]] bounds that later. */
private[sources] object RowLevel {

  def apply(
      spark: SparkSession, path: String,
      upserts: Option[DataFrame], deletes: Option[DataFrame],
      keyCols: Seq[String], maxDeltaRows: Long,
      maxDeltaFiles: Int, allowEvolution: Boolean, caller: String,
      where: Option[Column] = None): MergeStats = {
    admit(upserts, deletes, keyCols, maxDeltaRows, maxDeltaFiles)
    val u = upserts.map(_.localCheckpoint(true)) // one computation across retries
    try {
      val ch = KeySet.validatedChanges(u, deletes, keyCols)
      try run(spark, path, u, ch, maxDeltaRows, maxDeltaFiles,
        allowEvolution, caller, where)
      finally ch.deletes.foreach(graft.util.Checkpoints.free)
    } finally u.foreach(graft.util.Checkpoints.free)
  }

  /** [[apply]] for a caller that materialized its upsert side `u` and
    * validated both sides itself ([[KeySet.collectedChanges]], or
    * [[KeySet.validatedChanges]] over `u`): neither is done again. The
    * caller frees `u` and `ch.deletes`. The CDC sink commits each micro-batch
    * here, at the [[MergeTable]] defaults. */
  def validated(
      spark: SparkSession, path: String, u: Option[DataFrame],
      ch: KeySet.Changes, caller: String): MergeStats = {
    admit(u, ch.deletes, ch.ks.keyCols, DefaultMaxDeltaRows, DefaultMaxDeltaFiles)
    run(spark, path, u, ch, DefaultMaxDeltaRows, DefaultMaxDeltaFiles,
      allowEvolution = false, caller, where = None)
  }

  private def admit(
      upserts: Option[DataFrame], deletes: Option[DataFrame],
      keyCols: Seq[String], maxDeltaRows: Long, maxDeltaFiles: Int): Unit = {
    requireKeyCols(keyCols)
    require(maxDeltaFiles >= 1, "maxDeltaFiles must be >= 1")
    // '\r' too: Manifests.read splits lines on CR as well as LF, so a
    // CR inside a stored name would shear the dvkeys line into a
    // phantom entry and corrupt every later snapshot. A zero budget
    // never commits row-level state, so it never writes the line.
    if (maxDeltaRows > 0) keyCols.foreach(k => require(
      !k.exists(c => c == ',' || c == '\t' || c == '\n' || c == '\r'),
      s"key column name not encodable in the manifest dvkeys line: '$k'"))
    upserts.foreach(u => require(keyCols.forall(u.columns.contains),
      s"key ${keyCols.mkString(",")} missing from updates"))
    deletes.foreach(k => require(keyCols.forall(k.columns.contains),
      s"key ${keyCols.mkString(",")} missing from keys frame"))
  }

  private def run(
      spark: SparkSession, path: String, u: Option[DataFrame],
      ch: KeySet.Changes, maxDeltaRows: Long, maxDeltaFiles: Int,
      allowEvolution: Boolean, caller: String, where: Option[Column]): MergeStats =
    transact(spark, path, caller)(
      once(spark, path, _, u, ch, maxDeltaRows, maxDeltaFiles,
        allowEvolution, caller, where))

  /** One attempt of the fold with no upsert or delete side — a zero
    * budget, and the predicate `where` when given — against `snap`.
    * [[MergeTable.foldRowLevel]] transacts it bare,
    * [[MergeTable.deleteWhere]] with its predicate. */
  def fold(spark: SparkSession, path: String, snap: Snapshot,
      where: Option[Column] = None): MergeStats = {
    val none = KeySet.Frame(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        keySchemaOf(tableSchemaOf(spark, snap), snap.dvKeys)),
      snap.dvKeys, 0L)
    once(spark, path, snap, None, KeySet.Changes(none, 0L, 0L, None),
      maxDeltaRows = 0L, DefaultMaxDeltaFiles, allowEvolution = false,
      "fold", where)
  }

  private def once(
      spark: SparkSession, path: String, snap: Snapshot, u0: Option[DataFrame],
      ch: KeySet.Changes, maxDeltaRows: Long, maxDeltaFiles: Int,
      allowEvolution: Boolean, caller: String, where: Option[Column]): MergeStats = {
    val (fs, root) = fsOf(spark, path)
    val schema0 = tableSchemaOf(spark, snap)
    // writer boundary: the caller speaks LOGICAL names; everything
    // below (schema line, dvkeys, stats, data files) speaks PHYSICAL.
    // Re-derived per OCC attempt — a concurrent rename can land between
    // retries. The delete side's extended column map is discarded: a
    // key naming no live column extends nothing that commits, and
    // fails the membership check below. A call with no side folds by
    // the table's own keys.
    val logicalKeys = ch.ks.keyCols
    val ub = u0.map(inbound(snap.colMap, schema0, _, logicalKeys))
    val db = ch.deletes.map(inbound(snap.colMap, schema0, _, logicalKeys))
    val u = ub.map(_._1)
    val d = db.map(_._1)
    val keyCols = (ub orElse db).fold(snap.dvKeys)(_._2)
    val cm1 = ub.fold(snap.colMap)(_._3)
    val ks = if (keyCols == logicalKeys) ch.ks else ch.ks.rebound(
      ch.ks.keys.select(logicalKeys.zip(keyCols).map { case (l, p) => col(l).as(p) }: _*),
      keyCols)
    val (nU, nD) = (ch.nU, ch.nD)
    // persisted-state-vs-frame mismatch: IllegalStateException, so a
    // caller's IllegalArgumentException fallback can't bury it (the
    // writeBatch bloom-guard convention). SET equality: join keys are
    // unordered, and refusing a reordered spelling of the same set
    // would be a spurious failure.
    if (snap.rowLevel && snap.dvKeys.toSet != keyCols.toSet)
      throw new IllegalStateException(
        s"table at $path carries row-level state keyed by " +
          s"[${snap.dvKeys.map(snap.colMap.logicalOf).mkString(",")}] — " +
          s"$caller by the same keys")
    // the widened shape this commit records; every pre-existing file —
    // base AND prior delta files — reads the new columns as NULL
    val widened = u.fold {
      require(keyCols.forall(schema0.fieldNames.contains),
        s"key ${logicalKeys.mkString(",")} missing from table")
      schema0
    }(conformedSchema(schema0, _, keyCols, allowEvolution))
    // delete key TYPES must match the table's: a drifted type would
    // silently tombstone nothing (the join never matches) — the
    // conformedSchema rationale, scoped to the key columns
    d.foreach(_.schema.foreach { f =>
      val t = widened(f.name).dataType
      require(f.dataType.catalogString == t.catalogString,
        s"keys column ${f.name} has type ${f.dataType.catalogString} but " +
          s"the table stores ${t.catalogString} — cast the keys frame")
    })
    val sj = Some(asNullableSchema(widened).json)
    // a zero budget admits no row-level state: a zero-row call on a
    // row-level table falls through to the fold, as does a predicate
    if (nU == 0 && nD == 0 && where.isEmpty &&
        (maxDeltaRows > 0 || !snap.rowLevel)) {
      val kept = snap.entries.size + snap.delta.size + snap.deletes.size
      // zero-row no-op — EXCEPT when it widens the schema: commit the
      // manifest-only widening deterministically, carrying every piece
      // of row-level state verbatim. STRUCTURAL compare, not length
      // (the rewriteMerge type-widening rationale).
      if (asNullableSchema(widened) == asNullableSchema(schema0))
        return MergeStats(snap.version, kept, 0, 0, 0)
      commit(fs, root, snap.copy(version = snap.version + 1,
        stats = statsUnderSchema(snap.stats, widened), schemaJson = sj,
        colMap = cm1))
      return MergeStats(snap.version + 1, kept, 0, 0, 0)
    }
    // stats ride into the discovery probes (conservative pruning)
    val base = relationFor(spark, snap.entries, snap.stats, Some(schema0))
    val deltaDf = if (snap.delta.isEmpty) None
      else Some(relationFor(spark, snap.delta, Nil, Some(schema0)))
    val tombDf = if (snap.deletes.isEmpty) None
      else Some(relationFor(spark, snap.deletes, Nil,
        Some(keySchemaOf(schema0, keyCols))))
    // (rows, rows carrying a key of ks) of the delta and of the
    // tombstones, in one job. A call that folds whatever they say —
    // past the budget, or under a zero one — skips them.
    val probed = maxDeltaRows > 0 && nU + nD <= maxDeltaRows
    val counts = ks.overlaps(if (probed) deltaDf.toSeq ++ tombDf.toSeq else Nil)
    val deltaProbe = deltaDf.filter(_ => probed).map(_ => counts.head)
    val tombProbe = tombDf.filter(_ => probed).map(_ => counts.last)
    val (deltaRows, deltaHit) = deltaProbe.getOrElse((0L, 0L))
    val (tombRows, tombHit) = tombProbe.getOrElse((0L, 0L))
    // exact: ks is unique, and each side's survivors are disjoint from it
    val nDelta = deltaRows - deltaHit + nU
    val nTomb = tombRows - tombHit + nD
    val cols = widened.map(_.name)
    // an empty ks, or a probe that saw no key of it, spares the anti-join
    def withoutKs(df: DataFrame, probe: Option[(Long, Long)]) =
      if (ks.size == 0 || probe.exists(_._2 == 0L)) df else ks.anti(df)
    // delta survivors ∪ upserts, projected to the widened shape; `p`
    // drops matching delta survivors, never upserts
    def newDelta(p: Option[Column] = None): DataFrame = (deltaDf.map(df =>
        without(withoutKs(padTo(df, widened), deltaProbe), cm1, p)
          .select(cols.map(col): _*)).toSeq ++
      u.map(_.select(cols.map(col): _*))).reduceOption(_ unionByName _)
      .getOrElse(padTo(base.limit(0), widened)) // typed empty frame
    // tombstone survivors ∪ deletes — disjoint, so already distinct
    def newTombs(): Option[DataFrame] =
      (tombDf.map(withoutKs(_, tombProbe)).toSeq ++ d).reduceOption(_ unionByName _)

    if (!probed || nDelta + nTomb > maxDeltaRows) {
      // FOLD the new delta in ONE rewrite merge that drops every
      // tombstoned row — the compaction the row-level state was
      // deferring — reporting the CALLER's upsert count. Scope-aware:
      // the prior scope names every base file a delta or tombstone key
      // touches (exact, the discovery invariant), so only ks pays a
      // discovery scan, sized to this call. The new delta is
      // checkpointed whenever it draws on the prior one, also when no
      // key of ks is dropped from it: its partitions, and so the files
      // the rewrite groups them into, are then the same whichever entry
      // point folds. rewriteMerge reads it up to three times (count,
      // discovery, hit-file anti-join). The tombstones are checkpointed
      // when ks filters them. A predicate filters the rows the fold
      // writes, not its key set: `rows` re-reads the delta files
      // through it in the write itself.
      val combined =
        if (deltaDf.isEmpty) newDelta() else newDelta().localCheckpoint(true)
      val rows = if (deltaDf.isEmpty || where.isEmpty) combined else newDelta(where)
      val removeKeys =
        if (tombDf.isEmpty || ks.size == 0) newTombs()
        else newTombs().map(_.localCheckpoint(true))
      try {
        val known: Option[Set[String]] = snap.dvFiles.map(scope =>
          scope.map(normalize).toSet ++
            (if (ks.size == 0) Set.empty[String] else ks.touchedFiles(base)))
        // with no key of ks to drop, the new delta is the old one: its
        // footers count it without a job
        val n =
          if (deltaDf.isEmpty) nU
          else if (probed) nDelta
          else if (ks.size == 0)
            footerRowCount(spark.sparkContext.hadoopConfiguration, snap.delta)
          else combined.count()
        // a PURE caller batch (no prior delta, no deletes) keeps its own
        // key set, literal when it fits, and on a DV-free base may
        // rebase a lost insert-only commit (see rewriteMerge); a call
        // with a predicate never rebases, it re-discovers per attempt
        val pure = deltaDf.isEmpty && d.isEmpty
        val st = rewriteMerge(spark, fs, root, snap,
          rows, if (pure) ks else KeySet.Frame(combined, keyCols, n),
          tableSchema = schema0, allowEvolution = allowEvolution,
          knownTouched = known, removeKeys = removeKeys, colMap0 = cm1,
          where = where, allowRebase = pure && !snap.rowLevel && where.isEmpty)
        if (st.version != snap.version || !snap.rowLevel)
          return st.copy(rowsUpserted = nU)
        // nothing to write and nothing touched (a predicate matched no
        // row either): the row-level state provably suppresses nothing
        // AT snap.version (deleting absent keys is a no-op), so the
        // folded state is a clean entries-only manifest — claimed as
        // exactly snap.version + 1. A writer landing after the proof
        // makes the claim lose OCC, and the retry re-proves against its
        // state: its delta rows are never blind-cleared, its deletions
        // never resurrected.
        commit(fs, root, Snapshot(snap.version + 1, snap.entries,
          stats = snap.stats, schemaJson = Some(asNullableSchema(schema0).json),
          colMap = cm1))
        return MergeStats(snap.version + 1, snap.entries.size, 0, 0, 0)
      } finally {
        if (deltaDf.nonEmpty) graft.util.Checkpoints.free(combined)
        if (tombDf.nonEmpty && ks.size > 0)
          removeKeys.foreach(graft.util.Checkpoints.free)
      }
    }

    def filesFor(rows: Long): Int =
      math.max(1L, (rows + InsertRowsPerFile - 1) / InsertRowsPerFile).toInt
    // an untouched delta is carried BY REFERENCE and the upserts append
    // their own file set — keys stay unique ACROSS delta file sets, so
    // the read union needs no precedence order. A touched delta, or one
    // at the file-set cap (bounding the read union's file count,
    // amortized 1/maxDeltaFiles), re-writes combined.
    val deltaRewritten = snap.delta.nonEmpty &&
      (deltaHit > 0 || (nU > 0 && snap.delta.size >= maxDeltaFiles))
    val carried = if (deltaRewritten) Nil else snap.delta
    val fresh =
      if (deltaRewritten && nDelta > 0)
        writeBatch(spark, fs, root, newDelta().coalesce(filesFor(nDelta)))
      else if (deltaRewritten) Nil
      else u.fold(Seq.empty[FileEntry])(df => writeBatch(spark, fs, root,
        df.select(cols.map(col): _*).coalesce(filesFor(nU))))
    val tombsRewritten = nD > 0 || tombHit > 0
    val tombs =
      if (!tombsRewritten) snap.deletes
      else if (nTomb == 0) Nil
      else writeBatch(spark, fs, root, newTombs().get.coalesce(1), keyOnly = true)
    // the SCOPE: the prior scope unions in (base entries are immutable
    // while row-level state exists, so its paths stay valid and its
    // proof stays true); a prior UNSCOPED table upgrades here when the
    // FULL new key set — prior delta and tombstone keys ∪ ks — is small
    // enough to point-probe
    val touched: Option[Set[String]] = snap.dvFiles match {
      case Some(prior) => ks.pointTouched(base).map(_ ++ prior.map(normalize))
      case None if !snap.rowLevel => ks.pointTouched(base)
      case None => KeySet.Frame(KeySet.fromSnapshot(spark, snap).union(ks).keys,
        keyCols, nDelta + nTomb).pointTouched(base)
    }
    val scope = touched.map(t =>
      snap.entries.map(_.path).filter(p => t.contains(normalize(p))))
    commitOrRebase(spark, fs, root,
      Snapshot(snap.version + 1, snap.entries, carried ++ fresh,
        snap.dvKeys match { case Nil => keyCols; case pinned => pinned },
        scope,
        stats = carriedStats(spark.sparkContext.hadoopConfiguration,
          statsUnderSchema(snap.stats, widened), snap.entries ++ carried, fresh),
        schemaJson = sj, deletes = tombs, colMap = cm1,
        // the commit's key set is provably prev ∪ ks: an upserted key
        // moves base→delta or tombstones→delta, a deleted one moves
        // base→tombstones or delta→tombstones — the union never
        // shrinks short of a fold
        dvLits = ks.dvLitsAfter(spark, snap)),
      MergeStats(snap.version + 1,
        snap.entries.size + carried.size +
          (if (tombsRewritten) 0 else snap.deletes.size),
        (if (deltaRewritten) snap.delta.size else 0) +
          (if (tombsRewritten) snap.deletes.size else 0),
        fresh.size + (if (tombsRewritten) tombs.size else 0),
        nU),
      // APPEND-SHAPED commits — the prior delta carried verbatim and no
      // prior tombstone touched — may rebase onto a winner's tip: my
      // delta files as written, my delete keys as a tombstone file of
      // their own (the file written above is exactly that when there
      // were no prior tombstones; else it binds MY base's tombstones,
      // stale vs the tip, and becomes a vacuum-reclaimable orphan).
      // Anything else re-runs whole.
      if (deltaRewritten || tombHit > 0) None
      else Some(Append(ks, snap, nU, delta = fresh,
        tombstones = () =>
          if (nD == 0) Nil
          else if (snap.deletes.isEmpty) tombs
          else writeBatch(spark, fs, root, d.get.coalesce(1), keyOnly = true),
        budget = Some((maxDeltaRows, maxDeltaFiles)))))
  }
}
