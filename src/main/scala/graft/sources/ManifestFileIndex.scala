package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Zero-listing [[FileIndex]] over a manifest's closed (path, size)
  * list — the Delta/Iceberg trick that makes snapshot resolution a
  * METADATA read instead of a filesystem walk. `spark.read.parquet`
  * over N explicit paths re-discovers what the manifest already knows:
  * it stats every path (a distributed listing job whose default
  * parallelism of one task PER PATH cost a measured 17 s of pure task
  * overhead at 10k files — ManifestScaleDemo, since removed:
  * git show c10dac1:src/main/scala/graft/ManifestScaleDemo.scala), only to
  * learn sizes the committing writer recorded. This index hands Spark
  * those recorded sizes directly: no listing job, no per-path RPC,
  * flat cost at any file count.
  *
  * The execution path downstream is completely unchanged — this is
  * still `FileSourceScanExec` over `ParquetFileFormat`, so predicate
  * pushdown, bloom-filter row-group skipping, `input_file_name()`, and
  * whole-stage codegen all behave exactly as with `spark.read.parquet`
  * (PlanShapeSpec gates the pushed-filter shapes against this index).
  *
  * Sizes must be exact: Spark plans splits from `FileStatus.getLen`,
  * so a drifted size would truncate or over-read a file. They are, by
  * construction — parquet data files are immutable, and the committing
  * writer records the post-write `listStatus` sizes into the manifest
  * ([[MergeTable.writeBatch]]).
  *
  * Modification times are not stored (0): the parquet read path never
  * consults them; only the `_metadata.file_modification_time` metadata
  * column would surface the placeholder.
  */
private[graft] final class ManifestFileIndex(
    entries: Seq[MergeTable.FileEntry],
    stats: Seq[(String, Map[String, (Long, Long)], Boolean)] = Nil, // (col, ranges, hex)
    caseSensitive: Boolean = false)
  extends FileIndex {
  require(entries.forall(_.size >= 0),
    "ManifestFileIndex needs a recorded size for every file; " +
      "size-less (legacy) manifests take the listing path")

  private val statuses: Array[FileStatus] =
    entries.map(ManifestFileIndex.statusOf).toArray

  override def rootPaths: Seq[Path] = statuses.map(_.getPath).toSeq

  /** Manifest-stats FILE pruning (Delta's stats-in-log, evaluated at
    * planning time): a pushed data filter whose conjunct provably
    * excludes a file's recorded [lo, hi] drops the file before any
    * task is scheduled or footer opened — the difference between "one
    * task per 100k files discovers emptiness" and "one file read".
    * Strictly conservative: only simple comparisons against literals
    * on the stats column prune; anything else — other columns, casts,
    * IS NULL, files without a recorded range — keeps the file. */
  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept =
      if (stats.isEmpty || dataFilters.isEmpty) statuses
      else {
        // per stats column: its excluders and its range lookup — a
        // file drops when ANY column's recorded range provably can't
        // satisfy the filters (multi-column z-order layouts prune on
        // whichever z column the predicate names)
        val active = stats.flatMap { case (colName, ranges, hex) =>
          val ex = dataFilters.flatMap(f =>
            if (hex) ManifestFileIndex.hexExcluder(colName, f, caseSensitive)
            else ManifestFileIndex.rangeExcluder(colName, f, caseSensitive))
          if (ex.isEmpty) None else Some((ranges, ex))
        }
        if (active.isEmpty) statuses
        else statuses.filter { st =>
          val p = Manifests.normalizePath(st.getPath.toString)
          !active.exists { case (ranges, ex) =>
            ranges.get(p).exists { case (lo, hi) => ex.exists(_(lo, hi)) }
          }
        }
      }
    Seq(PartitionDirectory(InternalRow.empty, kept))
  }

  override def inputFiles: Array[String] = entries.map(_.path).toArray

  override def refresh(): Unit = () // immutable by construction

  override val sizeInBytes: Long = entries.map(_.size).sum

  override def partitionSchema: StructType = StructType(Nil)

  override def toString: String =
    s"ManifestFileIndex(${entries.size} files, $sizeInBytes bytes" +
      (if (stats.isEmpty) ""
       else s", stats on ${stats.map(s =>
         if (s._3) s._1 + "(hex)" else s._1).mkString(",")}") + ")"
}

private[graft] object ManifestFileIndex {
  private[sources] def statusOf(e: MergeTable.FileEntry): FileStatus =
    new FileStatus(e.size, false, 1, 128L * 1024 * 1024, 0L, new Path(e.path))

  /** A conjunct's proof-of-emptiness against a file's [lo, hi], or
    * None when the shape is not one this pruner reasons about. The
    * literal must be a plain Number of the column's long-ordered
    * family (Catalyst wraps mismatched types in casts, which do NOT
    * match these patterns — so a type-confused predicate never
    * prunes). NULL literals never prune (nothing matches them
    * anyway). Attribute matching honors the session's case
    * sensitivity (`caseSensitive` — the relationFor resolver rationale:
    * under spark.sql.caseSensitive=true, `id` and `ID` are distinct
    * columns and a case-blind match would prune on the wrong one's
    * ranges). */
  private[sources] def rangeExcluder(
      colName: String, e: Expression,
      caseSensitive: Boolean = false): Option[(Long, Long) => Boolean] = {
    import org.apache.spark.sql.catalyst.expressions._
    def isCol(x: Expression): Boolean = x match {
      case a: AttributeReference =>
        if (caseSensitive) a.name == colName else a.name.equalsIgnoreCase(colName)
      case _ => false
    }
    def v(x: Any): Option[Long] = x match {
      case n: java.lang.Number => Some(n.longValue)
      case _ => None
    }
    e match {
      case EqualTo(a, Literal(x, _)) if isCol(a) =>
        v(x).map(q => (lo, hi) => q < lo || q > hi)
      case EqualTo(Literal(x, _), a) if isCol(a) =>
        v(x).map(q => (lo, hi) => q < lo || q > hi)
      case EqualNullSafe(a, Literal(x, _)) if isCol(a) && x != null =>
        v(x).map(q => (lo, hi) => q < lo || q > hi)
      case EqualNullSafe(Literal(x, _), a) if isCol(a) && x != null =>
        v(x).map(q => (lo, hi) => q < lo || q > hi)
      case GreaterThan(a, Literal(x, _)) if isCol(a) => // col > q
        v(x).map(q => (_, hi) => hi <= q)
      case GreaterThanOrEqual(a, Literal(x, _)) if isCol(a) => // col >= q
        v(x).map(q => (_, hi) => hi < q)
      case LessThan(a, Literal(x, _)) if isCol(a) => // col < q
        v(x).map(q => (lo, _) => lo >= q)
      case LessThanOrEqual(a, Literal(x, _)) if isCol(a) => // col <= q
        v(x).map(q => (lo, _) => lo > q)
      case GreaterThan(Literal(x, _), a) if isCol(a) => // q > col ⟺ col < q
        v(x).map(q => (lo, _) => lo >= q)
      case GreaterThanOrEqual(Literal(x, _), a) if isCol(a) => // col <= q
        v(x).map(q => (lo, _) => lo > q)
      case LessThan(Literal(x, _), a) if isCol(a) => // col > q
        v(x).map(q => (_, hi) => hi <= q)
      case LessThanOrEqual(Literal(x, _), a) if isCol(a) => // col >= q
        v(x).map(q => (_, hi) => hi < q)
      case In(a, list) if isCol(a) && list.nonEmpty &&
          list.forall(_.isInstanceOf[Literal]) =>
        val qs = list.map(l => v(l.asInstanceOf[Literal].value))
        if (qs.forall(_.isDefined)) {
          // hoisted: the closure runs once per candidate FILE — at 100k
          // files a per-call flatten would re-copy the literal list
          // 100k times in the planner thread
          val vs = qs.flatten.toArray
          Some((lo, hi) => vs.forall(q => q < lo || q > hi))
        } else None
      // Catalyst rewrites In-lists longer than
      // spark.sql.optimizer.inSetConversionThreshold (default 10) to
      // InSet — exactly the batched-lookup shape this pruner exists
      // for; without this case a 50-key probe got NO file pruning.
      // A null in the set maps to None and disables pruning (the In
      // convention: conservative, never wrong).
      case InSet(a, hset) if isCol(a) && hset.nonEmpty =>
        val qs = hset.toSeq.map(v)
        if (qs.forall(_.isDefined)) {
          val vs = qs.flatten.toArray
          Some((lo, hi) => vs.forall(q => q < lo || q > hi))
        } else None
      case And(l, r) =>
        (rangeExcluder(colName, l, caseSensitive),
         rangeExcluder(colName, r, caseSensitive)) match {
          case (Some(f), Some(g)) => Some((lo, hi) => f(lo, hi) || g(lo, hi))
          case (one @ Some(_), None) => one
          case (None, g) => g
        }
      case _ => None
    }
  }

  /** [[rangeExcluder]]'s HEX-DOMAIN twin: string predicates against a
    * column whose recorded per-file bounds are [[MergeTable.hexLoBound]]
    * encodings. A literal maps to its own [qLo, qHi] bound pair; by
    * the bound monotonicity (hexLoBound doc), a file can hold a
    * matching hex value only when the bound intervals overlap — so
    * disjointness proves emptiness. A literal with a non-hex char in
    * its first 16 never prunes (such a value may still sort inside a
    * hex file's byte range, and hex files may contain non-hex rows
    * between their hex min/max — only HEX literals carry the proof). */
  private[sources] def hexExcluder(
      colName: String, e: Expression,
      caseSensitive: Boolean = false): Option[(Long, Long) => Boolean] = {
    import org.apache.spark.sql.catalyst.expressions._
    def isCol(x: Expression): Boolean = x match {
      case a: AttributeReference =>
        if (caseSensitive) a.name == colName else a.name.equalsIgnoreCase(colName)
      case _ => false
    }
    // (qLo, qHi) of a string literal, None when not in the hex domain
    def v(x: Any): Option[(Long, Long)] = x match {
      case s: org.apache.spark.unsafe.types.UTF8String =>
        val str = s.toString
        for { a <- MergeTable.hexLoBound(str)
              b <- MergeTable.hexHiBound(str) } yield (a, b)
      case _ => None
    }
    e match {
      case EqualTo(a, Literal(x, _)) if isCol(a) =>
        v(x).map { case (qLo, qHi) => (lo, hi) => qHi < lo || qLo > hi }
      case EqualTo(Literal(x, _), a) if isCol(a) =>
        v(x).map { case (qLo, qHi) => (lo, hi) => qHi < lo || qLo > hi }
      case EqualNullSafe(a, Literal(x, _)) if isCol(a) && x != null =>
        v(x).map { case (qLo, qHi) => (lo, hi) => qHi < lo || qLo > hi }
      case EqualNullSafe(Literal(x, _), a) if isCol(a) && x != null =>
        v(x).map { case (qLo, qHi) => (lo, hi) => qHi < lo || qLo > hi }
      // col > q / col >= q: rows can exist only if file max >= q,
      // provable false when hi < qLo (then max < q). Strict vs
      // non-strict collapse to the same conservative test.
      case GreaterThan(a, Literal(x, _)) if isCol(a) =>
        v(x).map { case (qLo, _) => (_, hi) => hi < qLo }
      case GreaterThanOrEqual(a, Literal(x, _)) if isCol(a) =>
        v(x).map { case (qLo, _) => (_, hi) => hi < qLo }
      case LessThan(a, Literal(x, _)) if isCol(a) =>
        v(x).map { case (_, qHi) => (lo, _) => lo > qHi }
      case LessThanOrEqual(a, Literal(x, _)) if isCol(a) =>
        v(x).map { case (_, qHi) => (lo, _) => lo > qHi }
      case GreaterThan(Literal(x, _), a) if isCol(a) => // q > col ⟺ col < q
        v(x).map { case (_, qHi) => (lo, _) => lo > qHi }
      case GreaterThanOrEqual(Literal(x, _), a) if isCol(a) => // col <= q
        v(x).map { case (_, qHi) => (lo, _) => lo > qHi }
      case LessThan(Literal(x, _), a) if isCol(a) => // col > q
        v(x).map { case (qLo, _) => (_, hi) => hi < qLo }
      case LessThanOrEqual(Literal(x, _), a) if isCol(a) => // col >= q
        v(x).map { case (qLo, _) => (_, hi) => hi < qLo }
      case In(a, list) if isCol(a) && list.nonEmpty &&
          list.forall(_.isInstanceOf[Literal]) =>
        val qs = list.map(l => v(l.asInstanceOf[Literal].value))
        if (qs.forall(_.isDefined)) {
          val vs = qs.flatten.toArray // hoisted (the rangeExcluder note)
          Some((lo, hi) => vs.forall { case (qLo, qHi) => qHi < lo || qLo > hi })
        } else None
      // InSet: the >10-literal rewrite (rangeExcluder note) — its hset
      // holds UTF8String values, which v() already handles. The q143
      // headline shape (a ~50-hash batched KB probe) lands HERE, not
      // in In.
      case InSet(a, hset) if isCol(a) && hset.nonEmpty =>
        val qs = hset.toSeq.map(v)
        if (qs.forall(_.isDefined)) {
          val vs = qs.flatten.toArray
          Some((lo, hi) => vs.forall { case (qLo, qHi) => qHi < lo || qLo > hi })
        } else None
      case And(l, r) =>
        (hexExcluder(colName, l, caseSensitive),
         hexExcluder(colName, r, caseSensitive)) match {
          case (Some(f), Some(g)) => Some((lo, hi) => f(lo, hi) || g(lo, hi))
          case (one @ Some(_), None) => one
          case (None, g) => g
        }
      case _ => None
    }
  }
}

/** The PARTITIONED zero-listing index — [[ManifestFileIndex]] for the
  * IVF cluster layout (r13 verdict #5): one int partition column whose
  * value per file is parsed from the recorded path by the caller, so a
  * session open costs a manifest read instead of the per-path listing
  * job (measured 19.5 s at 10k files through `spark.read.parquet` —
  * the same demo as above) AND the planner rule's `cluster IN (probed)`
  * filter still prunes at the partition level: `listFiles` evaluates
  * the pushed partition filters against each cluster's values row, the
  * same bound-predicate mechanism Spark's own
  * PartitioningAwareFileIndex uses. Execution downstream is unchanged
  * (FileSourceScanExec over ParquetFileFormat). */
private[graft] final class ClusteredManifestFileIndex(
    clusterCol: String,
    clusters: Seq[(Int, Seq[MergeTable.FileEntry])]) extends FileIndex {
  require(clusters.forall(_._2.forall(_.size >= 0)),
    "ClusteredManifestFileIndex needs a recorded size for every file")

  override val partitionSchema: StructType =
    StructType(Seq(org.apache.spark.sql.types.StructField(
      clusterCol, org.apache.spark.sql.types.IntegerType, nullable = true)))

  private val dirs: Array[PartitionDirectory] = clusters.map { case (c, es) =>
    PartitionDirectory(InternalRow(c),
      es.map(ManifestFileIndex.statusOf).toArray)
  }.toArray

  override def rootPaths: Seq[Path] =
    clusters.flatMap(_._2.map(e => new Path(e.path)))

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (partitionFilters.isEmpty) dirs.toSeq
    else {
      import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Predicate}
      val bound = Predicate.createInterpreted(
        partitionFilters.reduce(And(_, _)).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fieldIndex(a.name)
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
      dirs.filter(d => bound.eval(d.values)).toSeq
    }

  override def inputFiles: Array[String] =
    clusters.flatMap(_._2.map(_.path)).toArray

  override def refresh(): Unit = () // immutable by construction

  override val sizeInBytes: Long = clusters.map(_._2.map(_.size).sum).sum

  override def toString: String =
    s"ClusteredManifestFileIndex(${clusters.size} clusters, " +
      s"${inputFiles.length} files, $sizeInBytes bytes)"
}

private[graft] object ClusteredManifestFileIndex {

  /** The relation over a cluster-partitioned layout's sized entries —
    * schema = ONE footer read (head file; all files agree by the
    * writer invariant) plus the partition column appended, exactly as
    * the basePath directory read renders it. */
  def relation(
      spark: org.apache.spark.sql.SparkSession, clusterCol: String,
      clusters: Seq[(Int, Seq[MergeTable.FileEntry])]): org.apache.spark.sql.DataFrame = {
    require(clusters.nonEmpty && clusters.head._2.nonEmpty, "empty layout")
    val dataSchema = spark.read.parquet(clusters.head._2.head.path).schema
    require(!dataSchema.fieldNames.contains(clusterCol),
      s"data files already carry a physical '$clusterCol' column — this " +
        "layout was not written with partitionBy and cannot take the " +
        "partitioned index")
    val idx = new ClusteredManifestFileIndex(clusterCol, clusters)
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      idx,
      partitionSchema = idx.partitionSchema,
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat =
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(rel)
  }
}
