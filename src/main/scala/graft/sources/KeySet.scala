package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ExprBridge.{toColumn, toExpr}

/** The key set a MergeTable writer or read works with — a write batch's
  * conflict keys, a fold's removal set, or a version's row-level
  * suppression set — in ONE of three forms, chosen once where the keys
  * are first seen:
  *
  *  - [[KeySet.Literals]]: one stable-typed key column and at most
  *    [[KeySet.DiscoveryInLimit]] distinct values, held on the driver.
  *    Every consumer pushes them as an `In` predicate (NULL-guarded
  *    NOT-In for anti-joins) straight at the scan: no broadcast build,
  *    no re-collect job, and on hash/uuid key domains (content_hash,
  *    request_id — where a RANGE covers every file) the In reaches the
  *    parquet reader's footer stats AND bloom filters. The staged
  *    lineages are driver-gap-bound (37 jobs × ~30 ms + ~45 ms gaps
  *    measured on q144), so every shed job is wall-clock.
  *  - [[KeySet.Held]]: one stable-typed key column past that budget but
  *    within [[KeySet.HeldLimit]], its values already on the driver
  *    because the batch's one bounded validation collect brought them
  *    there. The values are held as ONE object — a hash set of
  *    Catalyst-internal values in one `InSet` expression, which
  *    generated code reaches through `ctx.addReferenceObj` (the
  *    [[graft.functions.Bm25Score]] pattern) — never a list of
  *    literals for the analyzer to walk: validation, the overlap probe,
  *    both anti-joins and discovery launch no key-collect or
  *    broadcast-build job. The parquet reader takes the `InSet` as a
  *    pushed [min, max] range and [[ManifestFileIndex]] prunes files on
  *    it, as on the `InSet` Catalyst makes of a long `In` list.
  *  - [[KeySet.Frame]]: every other set — multi-column, an unstable key
  *    type (binary: reference equality; float/double: NaN equality
  *    differs between Seq.distinct and SQL), or past the held limit —
  *    kept as a key frame and joined by broadcast. Its size and frame
  *    are lazy: a set that only feeds a gate or a union costs nothing
  *    until a consumer runs it.
  *
  * The literal budget stays the bound of the `dvlits` manifest line and
  * of scoped point probes ([[pointTouched]]): a held set commits what a
  * frame of the same keys commits.
  *
  * Every form answers every operation with identical rows and files
  * (KeySetSpec pins it per key type), so each consumer makes ONE call
  * and never branches on the form. The NULL argument that makes them
  * agree: a join never matches a NULL key, so an anti-join KEEPS
  * NULL-keyed rows and a semi-join drops them; `isin` and `InSet`
  * evaluate NULL on a NULL key, so the literal and held anti-joins add
  * an explicit `isNull` guard and their semi-joins need none. */
private[graft] sealed trait KeySet {
  def keyCols: Seq[String]

  /** Distinct keys, or an upper bound on them (a fold's removal set):
    * it only picks the discovery form. */
  def size: Long

  /** The same keys under the table's PHYSICAL column names, over the
    * renamed batch `u` (the writer boundary's column mapping). */
  def rebound(u: DataFrame, keyCols: Seq[String]): KeySet

  /** The keys as a frame of exactly `keyCols`. */
  def keys: DataFrame

  /** One pass over row-level frame `d` answering (its row count, how
    * many of its rows carry a key of this set) — the disjointness probe
    * every row-level writer needs (append admission, tombstone
    * re-insert detection, delta deletion detection). The set's keys
    * must be unique. */
  final def overlap(d: DataFrame): (Long, Long) = overlaps(Seq(d)).head

  /** [[overlap]] of several row-level frames in ONE job: their key
    * columns, tagged by frame, are read by a single task — row-level
    * state is bounded by the fold budget — so the global aggregate
    * needs no exchange (under adaptive execution an exchange is a job
    * of its own). */
  final def overlaps(ds: Seq[DataFrame]): Seq[(Long, Long)] =
    if (ds.isEmpty) Nil
    else {
      val tag = freshName("__probe")
      val (marked, hit) = withHit(ds.zipWithIndex.map { case (d, i) =>
        d.select(keyCols.map(col) :+ lit(i).as(tag): _*)
      }.reduce(_ unionByName _).coalesce(1))
      val counts = ds.indices.flatMap(i => Seq(
        count(when(col(tag) === i, lit(1))),
        count(when(col(tag) === i && hit, lit(1)))))
      val r = marked.agg(counts.head, counts.tail: _*).head()
      ds.indices.map(i => (r.getLong(2 * i), r.getLong(2 * i + 1)))
    }

  /** `d` and a predicate true on exactly its rows whose key is in the
    * set — [[overlaps]]' membership test. */
  protected def withHit(d: DataFrame): (DataFrame, Column)

  /** A column name not among the key columns. */
  protected final def freshName(prefix: String): String =
    Iterator.from(0).map(prefix + _).find(!keyCols.contains(_)).get

  /** `d` minus the rows whose key is in the set; NULL-keyed rows stay. */
  def anti(d: DataFrame): DataFrame

  /** Whether any row of `d` carries a key of the set — the OCC rebase
    * probes over the files a winner added (stops at the first hit). */
  def hitsAny(d: DataFrame): Boolean

  /** The touched-file discovery plan: distinct `input_file_name` of the
    * `base` rows whose key is in the set, scanning ONLY the key column.
    * Filters go DIRECTLY on the relation, before the projection that
    * adds input_file_name(): that expression is non-deterministic, and
    * Catalyst refuses to push any predicate through a projection
    * containing one — filtering after it would silently scan every file
    * (MergeTableSpec gates both `PushedFilters` shapes). `base` is the
    * snapshot's relation ([[MergeTable.relationFor]] — manifest-backed,
    * so discovery pays no listing job either). */
  def discoveryFrame(base: DataFrame): DataFrame

  /** [[discoveryFrame]] collected to the NORMALIZED touched-file set —
    * file-count-bounded: one string per matched file, never rows. */
  final def touchedFiles(base: DataFrame): Set[String] =
    discoveryFrame(base).collect()
      .map(r => Manifests.normalizePath(r.getString(0))).toSet

  /** The cheap point-probe discovery every scoping writer gates on:
    * Some(touched files) only when the set rides the single-column In
    * path (bloom/footer-pruned point probes); None = the caller commits
    * unscoped rather than pay a base key-column scan on the write path
    * ([[MergeTable.rescopeDelta]] bounds that later). */
  final def pointTouched(base: DataFrame): Option[Set[String]] =
    if (keyCols.size == 1 && size <= KeySet.DiscoveryInLimit)
      Some(touchedFiles(base))
    else None

  /** This set ∪ `that` (same key columns): two literal sets stay
    * literal while the union fits the budget; anything else is a
    * frame. */
  def union(that: KeySet): KeySet = {
    require(keyCols.toSet == that.keyCols.toSet,
      s"key sets over [${keyCols.mkString(",")}] and " +
        s"[${that.keyCols.mkString(",")}] do not union")
    (this, that) match {
      case (a: KeySet.Literals, b: KeySet.Literals) =>
        val vs = (a.values ++ b.values).distinct
        val merged = a.copy(values = vs)
        if (vs.size <= KeySet.DiscoveryInLimit) merged
        else KeySet.Frame(merged.keys, keyCols, vs.size.toLong)
      case _ =>
        KeySet.Frame(keys.unionByName(that.keys), keyCols, size + that.size)
    }
  }

  /** The suppression literals (`Snapshot.dvLits`) of the commit that
    * adds this set's keys to `snap`'s row-level state. Every row-level
    * commit's key set is provably prev ∪ batch — a mergeLite key moves
    * base→delta, a deleteLite key moves delta→deletes or base→deletes,
    * and no key LEAVES the union short of a fold (which clears the
    * state whole) — so the recorded set extends with zero jobs whenever
    * both sides are literal, the union fits the budget and the key
    * type JSON-round-trips. None otherwise: reads fall back to the
    * broadcast anti-join (always correct, just slower) and the literal
    * regime re-enters at the next fold. */
  final def dvLitsAfter(
      spark: SparkSession, snap: MergeTable.Snapshot): Option[Seq[Any]] =
    (if (snap.rowLevel) KeySet.fromSnapshot(spark, snap).union(this)
     else this) match {
      case l: KeySet.Literals
          if l.values.nonEmpty && KeySet.litsEncodableType(l.keyType) =>
        Some(l.values)
      case _ => None
    }
}

private[graft] object KeySet {

  /** The literal budget: at most this many keys push as one In list.
    * Above it the list costs more in Catalyst analysis than the scan it
    * prunes (the DedupIndex idPushLimit rationale — 128k literals
    * measured tripling a probe). */
  val DiscoveryInLimit = 1000

  /** The most keys per side one bounded validation collect brings to
    * the driver, and so the largest [[Held]] side: past it a batch's
    * keys stay a [[Frame]], after a discarded collect of at most this
    * many keys plus one. It is the largest held set KeySetSpec checks
    * against the frame form, and the ingest workload's large commits
    * (3,000 ops) fit it. At it, an `applyChanges` of 5,000 upserts and
    * 300 deletes measured 509 ms held against 684 ms framed (4-core
    * host); one key past it, the discarded collect cost no measurable
    * time against a 1,001-key collect. */
  val HeldLimit = 5000

  /** Test seam (true in production): false holds every set past the
    * literal budget to the [[Frame]] form, as if [[HeldLimit]] were the
    * literal budget, so the broadcast-join path stays testable. */
  private val heldForm = new scala.util.DynamicVariable[Boolean](true)

  /** Runs `body` with the held form switched off (see [[heldForm]]). */
  private[graft] def framesOnlyForTest[A](body: => A): A = heldForm.withValue(false)(body)

  private def heldLimit: Int = if (heldForm.value) HeldLimit else DiscoveryInLimit

  /** A frame of one key column from driver-side values: a local
    * relation, planned and scanned with no job. */
  private def localKeys(keyCol: String, keyType: DataType, values: Seq[Any]): DataFrame = {
    import scala.jdk.CollectionConverters._
    SparkSession.active.createDataFrame(values.map(Row(_)).asJava,
      StructType(Seq(StructField(keyCol, keyType))))
  }

  /** The form of one stable-typed key column's complete distinct,
    * NULL-free values, collected to the driver: literal within the
    * budget, held past it (a frame of the same values under
    * [[framesOnlyForTest]]). */
  private def onDriver(keyCol: String, keyType: DataType, values: Seq[Any]): KeySet =
    if (values.size <= DiscoveryInLimit) Literals(keyCol, keyType, values)
    else if (heldForm.value) Held(keyCol, keyType, values)
    else Frame(localKeys(keyCol, keyType, values), Seq(keyCol), values.size.toLong)

  /** `values` as the Catalyst-internal hash set of an `InSet` over a
    * `t` column (`UTF8String` for strings), each cast to `t` on the
    * driver — exact for values collected from a `t` column. */
  private def internalSet(t: DataType, values: Seq[Any]): Set[Any] = {
    val tz = Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
    values.iterator.map(v => Cast(Literal(v), t, tz).eval()).toSet
  }

  /** `d`'s rows whose `keyCol` is among the driver-side `values`: one
    * `InSet` past the literal budget when every value is of the
    * column's stable type — never a list of thousands of literals for
    * the analyzer to walk — and `isin` otherwise. */
  private[graft] def members(d: DataFrame, keyCol: String, values: Seq[Any]): DataFrame = {
    val t = d.schema(keyCol).dataType
    if (values.size <= DiscoveryInLimit || !litStableKeyType(t) ||
        values.exists(v => v == null || Literal(v).dataType != t))
      d.filter(col(keyCol).isin(values: _*))
    else d.filter(toColumn(InSet(toExpr(col(keyCol)), internalSet(t, values))))
  }

  /** One stable-typed key column's COMPLETE distinct values. The
    * values come from a collect of a `keyType` column (or a typed
    * manifest decode), so `lit(v)` rebuilds literals of exactly the
    * column's type. */
  final case class Literals(keyCol: String, keyType: DataType, values: Seq[Any])
      extends KeySet {
    def keyCols: Seq[String] = Seq(keyCol)
    def size: Long = values.size.toLong
    def rebound(u: DataFrame, keyCols: Seq[String]): KeySet =
      copy(keyCol = keyCols.head)
    def keys: DataFrame = localKeys(keyCol, keyType, values)
    private def in = col(keyCol).isin(values: _*)
    protected def withHit(d: DataFrame): (DataFrame, Column) = (d, in)
    def anti(d: DataFrame): DataFrame = d.filter(col(keyCol).isNull || !in)
    def hitsAny(d: DataFrame): Boolean = d.filter(in).limit(1).count() > 0
    def discoveryFrame(base: DataFrame): DataFrame =
      inDiscovery(base, keyCol, values)
  }

  /** One stable-typed key column's complete distinct values past the
    * literal budget (the collected, external values), tested as ONE
    * `InSet` of their internal values. */
  final case class Held(keyCol: String, keyType: DataType, values: Seq[Any])
      extends KeySet {
    def keyCols: Seq[String] = Seq(keyCol)
    def size: Long = values.size.toLong
    def rebound(u: DataFrame, keyCols: Seq[String]): KeySet =
      copy(keyCol = keyCols.head)
    def keys: DataFrame = localKeys(keyCol, keyType, values)
    private lazy val set = internalSet(keyType, values)
    /** The membership test of `d`'s key column. A column of another
      * type — a key widened by schema evolution, whose int values
      * never equal a long set's — takes `isin`, which the analyzer
      * coerces to a common type as it does the literal form's. */
    private def in(d: DataFrame): Column = {
      val k = col(keyCol)
      if (d.select(k).schema.head.dataType == keyType) toColumn(InSet(toExpr(k), set))
      else k.isin(values: _*)
    }
    protected def withHit(d: DataFrame): (DataFrame, Column) = (d, in(d))
    def anti(d: DataFrame): DataFrame = d.filter(col(keyCol).isNull || !in(d))
    def hitsAny(d: DataFrame): Boolean = d.filter(in(d)).limit(1).count() > 0
    def discoveryFrame(base: DataFrame): DataFrame =
      base.filter(in(base)).select(input_file_name().as("__file")).distinct()
  }

  /** A key frame: `df` projects to `keyCols` (extra columns are
    * ignored); `n` is its distinct-key count or an upper bound. Both
    * are evaluated at first use. */
  final class Frame(df0: => DataFrame, val keyCols: Seq[String], n0: => Long)
      extends KeySet {
    lazy val df: DataFrame = df0
    lazy val size: Long = n0
    def rebound(u: DataFrame, keyCols: Seq[String]): KeySet =
      Frame(u, keyCols, size)
    def keys: DataFrame =
      if (df.columns.toSeq == keyCols) df else df.select(keyCols.map(col): _*)
    protected def withHit(d: DataFrame): (DataFrame, Column) = {
      // the left join against the unique-keyed set preserves d's row
      // count; the marker gets a fresh name because a key column
      // literally named like it would be overwritten by withColumn and
      // the probe would compare keys against the constant
      val hit = freshName("__hit")
      (d.join(broadcast(keys.withColumn(hit, lit(true))), keyCols, "left"),
        col(hit).isNotNull)
    }
    // no distinct on the build side: a repeated key cannot change a
    // left-anti result, and the shuffle a distinct plans is a job
    def anti(d: DataFrame): DataFrame =
      d.join(broadcast(keys), keyCols, "left_anti")
    def hitsAny(d: DataFrame): Boolean =
      d.join(broadcast(keys), keyCols, "left_semi").limit(1).count() > 0
    def discoveryFrame(base: DataFrame): DataFrame = {
      if (keyCols.size == 1 && size <= DiscoveryInLimit) {
        // a small frame collects to literals first — the bounded
        // helper, not a bare collect: the driver-side fetch must stay
        // limit-capped even if a caller overstated the set's smallness
        graft.util.Pushdown.keyLiterals(df, keyCols.head, DiscoveryInLimit) match {
          case Some(ks) if ks.nonEmpty && !ks.contains(null) =>
            return inDiscovery(base, keyCols.head, ks)
          case _ => () // empty, NULL-keyed, or mis-stated size: range path
        }
      }
      // past the budget: the [min,max] range prunes on a compactTable'd
      // (key-range-sorted) layout, and the semi-join against the
      // broadcast key set is the membership test
      val ranged =
        if (keyCols.size == 1) {
          val k = keyCols.head
          val r = df.agg(min(col(k)).as("lo"), max(col(k)).as("hi")).head()
          if (r.isNullAt(0)) base
          else base.filter(col(k) >= lit(r.get(0)) && col(k) <= lit(r.get(1)))
        } else base
      ranged.select(keyCols.map(col) :+ input_file_name().as("__file"): _*)
        .join(broadcast(keys.distinct()), keyCols, "left_semi")
        .select(col("__file")).distinct()
    }
  }

  object Frame {
    def apply(df: => DataFrame, keyCols: Seq[String], n: => Long): Frame =
      new Frame(df, keyCols, n)
  }

  /** The exact key list as ONE parquet In predicate — checked against
    * footer stats and the table's bloom filters — and the complete
    * membership test, so no semi-join follows. */
  private def inDiscovery(base: DataFrame, k: String, ks: Seq[Any]): DataFrame =
    base.filter(col(k).isin(ks: _*))
      .select(input_file_name().as("__file")).distinct()

  /** An upsert batch alone, validated in ONE action: row count,
    * uniqueness on `keyCols` and the NULL-key refusal (the upsert side
    * of [[validatedChanges]], which every writer calls). */
  def validated(u: DataFrame, keyCols: Seq[String]): KeySet =
    validatedChanges(Some(u), None, keyCols).ks

  /** The validated sides of one row-level call: `ks` is the union of
    * both key sets, `nU`/`nD` count each side's keys, and `deletes` is
    * the delete side as a distinct key frame — driver-local when its
    * keys were collected, else a checkpoint the owner frees when the
    * call ends. */
  final case class Changes(
      ks: KeySet, nU: Long, nD: Long, deletes: Option[DataFrame])

  /** The refusals of one row-level call over `keyCols`. */
  private final class Refusals(keyCols: Seq[String]) {
    private val keyList = keyCols.mkString(",")
    val uNull = s"updates contain NULL in a key column ($keyList); " +
      "NULL keys cannot match and would duplicate on every merge"
    val dNull = s"keys contain NULL in a key column ($keyList); " +
      "NULL keys never match and would tombstone nothing"
    val dup = s"updates must be unique on $keyList"
    val both = s"a key on ($keyList) is both upserted and deleted in " +
      "one call; resolve each key to one change first"
  }

  /** Validates both sides of one call from their collected key values
    * (a single stable-typed key column), with no job: NULL keys, a
    * repeated upsert key and a key on both sides are refused. The
    * union of both sides takes the literal form within the budget and
    * the held form past it; a delete side, when `hasDeletes`, becomes a
    * driver-local frame. */
  private[graft] def collectedChanges(keyCol: String, keyType: DataType,
      uVals: Seq[Any], dVals: Seq[Any], hasDeletes: Boolean): Changes = {
    val no = new Refusals(Seq(keyCol))
    require(!uVals.contains(null), no.uNull)
    require(!dVals.contains(null), no.dNull)
    val uDistinct = uVals.distinct
    require(uVals.length == uDistinct.length, no.dup)
    val dDistinct = dVals.distinct
    val uSet = uDistinct.toSet
    require(!dDistinct.exists(uSet.contains), no.both)
    Changes(onDriver(keyCol, keyType, uDistinct ++ dDistinct),
      uDistinct.size.toLong, dDistinct.size.toLong,
      Option.when(hasDeletes)(localKeys(keyCol, keyType, dDistinct)))
  }

  /** One CDC batch's two sides from ONE bounded collect of (key,
    * `upsert`) over its `winners` — a materialized frame, unique per
    * key: Some((upsert keys, delete keys)) for a single stable-typed
    * key column within [[HeldLimit]] rows, None otherwise (the caller
    * routes with an aggregate and the writer validates). A NULL
    * `upsert` is a row with no route, refused with `noRoute`. */
  private[graft] def routed(winners: DataFrame, keyCols: Seq[String],
      upsert: Column, noRoute: String): Option[(Seq[Any], Seq[Any])] = {
    val t = winners.schema(keyCols.head).dataType
    if (keyCols.size != 1 || !litStableKeyType(t)) None
    else {
      val cap = heldLimit
      val rows = winners.select(col(keyCols.head), upsert).coalesce(1)
        .limit(cap + 1).collect()
      if (rows.length > cap) None
      else {
        require(!rows.exists(_.isNullAt(1)), noRoute)
        val (u, d) = rows.partition(_.getBoolean(1))
        Some((u.map(_.get(0)).toSeq, d.map(_.get(0)).toSeq))
      }
    }
  }

  /** Validates an upsert side `u` (full rows, unique keys) and a delete
    * side `d` (keys, duplicates collapse) of one
    * [[MergeTable.applyChanges]] call together: NULL keys are refused on
    * both sides, duplicate upsert keys are refused, and so is a key on
    * BOTH sides — one call applies one change per key.
    *
    * For a single stable-typed key column, ONE bounded collect (key
    * column only, a single-partition early-stopping limit per side)
    * validates both sides on the driver whenever each fits
    * [[HeldLimit]] ([[collectedChanges]]). Otherwise one aggregate over
    * the union of both sides' keys does it: counts per side, NULLs per
    * side, and one distinct count that equals `nU + nD` exactly when
    * the upserts are unique and the sides are disjoint (the delete side
    * is made distinct first). `struct` makes the distinct count
    * NULL-key tolerant, and with NULLs refused first it equals the
    * dropDuplicates count. Only a failed check runs a second query, to
    * name which rule broke. */
  def validatedChanges(
      u: Option[DataFrame], d: Option[DataFrame],
      keyCols: Seq[String]): Changes = {
    val no = new Refusals(keyCols)
    val uKeys = u.map(_.select(keyCols.map(col): _*))
    val dKeys = d.map(_.select(keyCols.map(col): _*))
    for (uk <- uKeys; dk <- dKeys; f <- dk.schema) {
      val t = uk.schema(f.name).dataType
      require(f.dataType.catalogString == t.catalogString,
        s"keys column ${f.name} has type ${f.dataType.catalogString} but " +
          s"the updates carry ${t.catalogString} — cast the keys frame")
    }
    val t = (uKeys orElse dKeys).get.schema.head.dataType
    val side = Iterator.from(0).map("__side" + _).find(!keyCols.contains(_)).get
    def tagged(uk: Option[DataFrame], dk: Option[DataFrame]): DataFrame =
      (uk.map(_.withColumn(side, lit(true))).toSeq ++
        dk.map(_.withColumn(side, lit(false)))).reduce(_ unionByName _)
    val dLits: Option[Seq[Any]] =
      if (keyCols.size == 1 && litStableKeyType(t)) {
        val cap = heldLimit
        val bounded = tagged(
          uKeys.map(_.coalesce(1).limit(cap + 1)),
          dKeys.map(_.coalesce(1).limit(cap + 1))).collect()
        val (uRows, dRows) = bounded.partition(_.getBoolean(1))
        val uVals = uRows.map(_.get(0)).toSeq
        val dVals = dRows.map(_.get(0)).toSeq
        if (uVals.length <= cap && dVals.length <= cap)
          return collectedChanges(keyCols.head, t, uVals, dVals, dKeys.isDefined)
        if (dVals.length <= cap) Some(dVals.distinct) else None
      } else None
    val dDistinct = dKeys.map(dk => dLits.fold(dk.distinct().localCheckpoint(true))(
      vs => localKeys(keyCols.head, t, vs)))
    val union = tagged(uKeys, dDistinct)
    val anyNull = keyCols.map(col(_).isNull).reduce(_ || _)
    val row = union.select(Seq(
        count(when(col(side), lit(1))), count(when(!col(side), lit(1))),
        count(when(col(side) && anyNull, lit(1))),
        count(when(!col(side) && anyNull, lit(1)))) ++
      uKeys.map(_ => countDistinct(struct(keyCols.map(col): _*))): _*).head()
    val (nU, nD) = (row.getLong(0), row.getLong(1))
    try {
      require(row.getLong(2) == 0L, no.uNull)
      require(row.getLong(3) == 0L, no.dNull)
      if (uKeys.isDefined && row.getLong(4) != nU + nD) {
        require(uKeys.get.select(countDistinct(struct(keyCols.map(col): _*)))
          .head().getLong(0) == nU, no.dup)
        throw new IllegalArgumentException(no.both)
      }
    } catch {
      case e: IllegalArgumentException =>
        dDistinct.foreach(graft.util.Checkpoints.free); throw e
    }
    Changes(Frame(union, keyCols, nU + nD), nU, nD, dDistinct)
  }

  /** The read path's suppression set of a row-level snapshot: the
    * recorded `dvlits` line decodes to [[Literals]] (reads then filter
    * the base scan with zero jobs and zero exchanges); otherwise the
    * delta's keys (each supersedes its base row with the delta's copy)
    * ∪ the delete tombstones (each supersedes its base row with
    * nothing) form a [[Frame]]. Delete-key files hold exactly the key
    * columns — their schema derives from the table schema's key fields,
    * zero IO. */
  def fromSnapshot(spark: SparkSession, snap: MergeTable.Snapshot): KeySet = {
    val sc = snap.schema
    snap.dvLits match {
      case Some(vs) =>
        val k = snap.dvKeys.head
        Literals(k, sc.get(sc.get.fieldIndex(k)).dataType, vs)
      case None =>
        lazy val keys =
          ((if (snap.delta.isEmpty) Nil
            else Seq(MergeTable.relationFor(spark, snap.delta, snap.stats, sc)
              .select(snap.dvKeys.map(col): _*))) ++
           (if (snap.deletes.isEmpty) Nil
            else Seq(MergeTable.relationFor(spark, snap.deletes, Nil,
              sc.map(MergeTable.keySchemaOf(_, snap.dvKeys))))))
            .reduce(_ unionByName _)
        Frame(keys, snap.dvKeys, keys.count())
    }
  }

  /** Key types whose collected JVM values have stable value equality
    * AND round-trip exactly through `lit(...)` — the precondition for
    * validating a batch on the driver and pushing its keys back as
    * `isin` literals. */
  def litStableKeyType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         StringType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Key types whose values the dvlits manifest line round-trips exactly
    * through JSON — strings, integrals and booleans. A stricter subset
    * of [[litStableKeyType]]: date/timestamp/decimal values depend on
    * session datetime-API configuration for their JVM class, so tables
    * keyed by them stay on the broadcast read path rather than risk a
    * drifted re-materialization. */
  def litsEncodableType(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
         StringType => true
    case _ => false
  }
}
