package graft.sources

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, not, sum, when}

/** Copy-on-write row-level DELETE over a parquet directory table.
  *
  * The reference's DELETE is split between an execution operator that
  * collects the row ids to remove (`presto-main/.../operator/
  * DeleteOperator.java:39-60` — emits a rowId channel to the connector's
  * `UpdatablePageSource`) and an optimizer rule that pushes whole-predicate
  * deletes down to connectors that can handle them as metadata operations
  * (`presto-main/.../iterative/rule/PushDeleteIntoConnector.java`). A plain
  * parquet directory has no row ids and no metadata delete, so the
  * mechanism every lakehouse format (Hive ACID, Iceberg, Delta) uses for
  * this layout is copy-on-write at FILE granularity:
  *
  *  1. Scan only the `_metadata.file_path` column with the predicate —
  *     Catalyst pushes the predicate into the parquet scan, so files whose
  *     row-group stats exclude the predicate are never even decoded — to
  *     find the files that contain at least one matching row.
  *  2. Rewrite ONLY those files, keeping rows that do NOT match.
  *  3. Swap: move the rewritten parts in, remove the originals. Every
  *     file outside the touched set is untouched — same path, same bytes,
  *     same mtime — which is what bounds the write cost by the deleted
  *     data's locality instead of the table size.
  *
  * The file list crosses to the driver (`collect`), which is the one
  * deliberate driver-side step: it is file-path METADATA, bounded by the
  * number of touched files (the same cardinality Spark's own FileIndex
  * and every table format's commit protocol hold on the driver/coordinator),
  * never row data.
  *
  * Partitioned layouts are handled via `basePath`, so partition-directory
  * columns survive the touched-file re-read, and rewritten parts land back
  * in their own partition directories.
  *
  * A table that has entered the MoR manifest protocol ([[MorDelete]])
  * refuses direct CoW DML loudly: CoW's directory-listing reads and
  * eager original-file deletes would bypass the manifest (readers would
  * see retained dead files, and the manifest would reference deleted
  * ones). Route such tables through [[MorDelete]]/[[MorUpsert]] and
  * [[MorDelete.compact]].
  */
object CowDelete {

  /** @param touched     files that contained matching rows and were rewritten
    * @param total       files in the table before the delete
    * @param rewritten   replacement files written (0 when a touched file
    *                    retained no rows at all)
    * @param deletedRows rows the predicate matched, measured by an
    *                    Observation riding the rewrite itself (−1 when the
    *                    caller did not request it) — never a second scan
    */
  final case class DeleteStats(touched: Seq[String], total: Long, rewritten: Long,
      deletedRows: Long = -1L)

  /** Delete all rows matching `predicate` from the parquet table at
    * `path`, rewriting only the files that contain matching rows.
    * `deletedRows` = (rows the touched files held) − (rows their
    * replacements hold), both read off parquet FOOTERS driver-side —
    * exact for a delete by construction, metadata-only, and immune to the
    * optimizer folding a constant predicate (a `WHERE true` delete
    * collapses its rewrite filter to an empty relation, which would erase
    * any in-plan metrics node) and to subquery predicates (which a
    * metrics expression cannot hold).
    */
  def delete(spark: SparkSession, path: String,
      predicate: Column): DeleteStats = MorDelete.withWriterLock(path) {
    val s = CowCore.rewrite(spark, path, _.where(predicate))(
      _.where(not(predicate)))
    DeleteStats(s.touched, s.total, s.rewritten, s.touchedRows - s.newRows)
  }

  /** The subquery-predicate form — `DELETE FROM t WHERE (k…) IN
    * (SELECT …)` (the reference plans the IN/EXISTS DELETE as a
    * semi-join above the row-id collection; here both halves are joins,
    * never a driver-side key list): rows whose `keyCols` match any row
    * of `keys` are deleted. Touched-file discovery is a LEFT SEMI join
    * projected to the file-path metadata column and the rewrite filters
    * the touched files with the complementary LEFT ANTI join, so the
    * subquery result streams through two shuffles and is never
    * collected — the shape that survives a subquery with 10^9 keys,
    * where an `isin(...)` literal predicate would not.
    */
  def deleteWhereIn(spark: SparkSession, path: String,
      keys: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): DeleteStats = MorDelete.withWriterLock(path) {
    require(keyCols.nonEmpty, "deleteWhereIn needs at least one key column")
    require(keyCols.forall(keys.columns.contains),
      s"keys must expose ${keyCols.mkString(", ")}; has ${keys.columns.mkString(", ")}")
    val k = keys.select(keyCols.map(col): _*)
    val s = CowCore.rewrite(spark, path,
      _.join(k, keyCols, "left_semi"))(
      _.join(k, keyCols, "left_anti"))
    DeleteStats(s.touched, s.total, s.rewritten, s.touchedRows - s.newRows)
  }
}

/** Copy-on-write row-level UPDATE — same touched-file discovery and swap
  * as [[CowDelete]] (the reference splits the analogous machinery between
  * `DeleteOperator.java`'s rowId collection and the connector's
  * `UpdatablePageSource`), but the rewrite keeps EVERY row of a touched
  * file, applying the SET expressions only where the predicate holds:
  * one `when(predicate, set).otherwise(col)` projection per assigned
  * column, a single codegen'd pass, no join and no union. A SET that
  * targets a partition column moves its rows to the right partition
  * directory automatically, because the rewrite re-materializes partition
  * columns through `partitionBy` like every staged write here.
  */
object CowUpdate {

  /** @param updatedRows rows the predicate matched (Observation-measured
    *                    on the rewrite pass, −1 when not requested) */
  final case class UpdateStats(touched: Seq[String], total: Long, rewritten: Long,
      updatedRows: Long = -1L)

  /** Apply `sets` (column name → new-value expression, evaluated against
    * the pre-update row, as in ANSI UPDATE) to all rows matching
    * `predicate` in the parquet table at `path`.
    */
  def update(spark: SparkSession, path: String, predicate: Column,
      sets: Seq[(String, Column)]): UpdateStats = MorDelete.withWriterLock(path) {
    val byName = sets.toMap
    val s = CowCore.rewrite(spark, path, _.where(predicate))({ touchedDf =>
      touchedDf.select(touchedDf.columns.toSeq.map { c =>
        byName.get(c)
          .map(e => when(predicate, e).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
    }, countMatching = Some(predicate))
    UpdateStats(s.touched, s.total, s.rewritten, s.matched)
  }
}

/** Copy-on-write MERGE (upsert): rows of `source` that match the target on
  * the key columns update it (the SET expressions may read the source row's
  * columns through a `src_` prefix); rows with no match append as NEW files
  * — they never touch an existing one. Matched-row discovery is a key
  * semi-join projected to `_metadata.file_path`, so the rewrite cost is
  * bounded by the files the source's keys actually live in, exactly like
  * DELETE/UPDATE. The ANSI cardinality rule (a target row may match at
  * most one source row) is enforced with a distributed uniqueness check on
  * the source keys before anything is written.
  */
object CowMerge {

  /** @param inserted staged part files appended for unmatched source rows */
  final case class MergeStats(
      touched: Seq[String], total: Long, rewritten: Long, inserted: Long)

  /** The WHEN-NOT-MATCHED-only MERGE: append the source rows whose key
    * has no target match as NEW files — zero existing files touched, no
    * rewrite pass at all. Returns staged part files appended. */
  def insertOnly(spark: SparkSession, path: String,
      source: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String]): Long = MorDelete.withWriterLock(path) {
    CowCore.requireUnmanaged(path, "MERGE")
    val table = spark.read.option("basePath", path).parquet(path)
    val src = source.localCheckpoint(true)
    try {
      require(src.groupBy(keyCols.map(col): _*).count()
        .where(col("count") > 1).isEmpty,
        "MERGE source must be unique on the key columns (ANSI cardinality rule)")
      val newRows = src
        .join(table.select(keyCols.map(col): _*), keyCols, "left_anti")
        .select(table.columns.toSeq.map(col): _*)
      if (newRows.isEmpty) 0L
      else CowCore.stageAndMove(spark, Paths.get(path).toAbsolutePath,
        CowCore.partitionColsOf(spark, table), newRows)
    } finally src.unpersist()
  }

  def merge(spark: SparkSession, path: String, source: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String], whenMatchedSet: Seq[(String, Column)],
      insertUnmatched: Boolean = true): MergeStats = MorDelete.withWriterLock(path) {
    CowCore.requireUnmanaged(path, "MERGE")
    val table = spark.read.option("basePath", path).parquet(path)
    val keyCs = keyCols.map(col)

    // Pin the source rows ONCE before anything reads them: the merge
    // evaluates `source` in four places (cardinality check, unmatched
    // probe, insert stage, matched-row rewrite), and a nondeterministic
    // source (limit/sample without a total order) could yield a different
    // row set at each evaluation — the rows written would not be the rows
    // the cardinality check validated. localCheckpoint materializes the
    // rows and truncates lineage, so a lost block fails loudly instead of
    // silently recomputing a different source. The pinned blocks are
    // released in the finally below — every read of `src` completes
    // before merge() returns, so repeated MERGEs in one session leave no
    // block-manager storage behind.
    val src = source.localCheckpoint(true)
    try {

    require(src.groupBy(keyCs: _*).count()
      .where(col("count") > 1).isEmpty,
      "MERGE source must be unique on the key columns (ANSI cardinality rule)")

    val byName = whenMatchedSet.toMap
    val srcKeys = src.select(keyCs: _*)
    val base = Paths.get(path).toAbsolutePath

    // Stage the inserts FIRST: the anti-join reads the pre-merge table,
    // and its lazy lineage must execute while the original files still
    // exist (the rewrite below swaps them out).
    val insertStage = if (insertUnmatched) {
      val newRows = src
        .join(table.select(keyCs: _*), keyCols, "left_anti")
        .select(table.columns.toSeq.map(col): _*)
      if (newRows.isEmpty) None
      else Some(CowCore.stage(spark, base, CowCore.partitionColsOf(spark, table), newRows))
    } else None

    val s = CowCore.rewrite(spark, path,
      _.join(srcKeys, keyCols, "left_semi")) { touchedDf =>
      val srcSide = src.select(src.columns.toSeq.map(c =>
          if (keyCols.contains(c)) col(c) else col(c).as(s"src_$c")): _*)
        .withColumn("__matched", lit(true))
      touchedDf.join(srcSide, keyCols, "left_outer")
        .select(touchedDf.columns.toSeq.map { c =>
          byName.get(c)
            .map(e => when(col("__matched").isNotNull, e).otherwise(col(c)).as(c))
            .getOrElse(col(c))
        }: _*)
    }

    val inserted = insertStage.map(CowCore.moveIn(_, base).size.toLong).getOrElse(0L)
    MergeStats(s.touched, s.total, s.rewritten, inserted)
    } finally src.unpersist()
  }
}

/** The shared copy-on-write core: touched-file discovery (metadata-only
  * scan under the matching rows), staged rewrite of only those files, and
  * the stage-then-swap commit. See [[CowDelete]]'s scaladoc for the full
  * mechanism and its scale rationale. [[MorDelete.compact]] reuses it in
  * MANIFEST mode (`liveFiles` + `retainOriginals`): reads come from the
  * manifest's live file list and originals are retained for older
  * manifests' readers instead of deleted.
  */
private[sources] object CowCore {

  /** @param newFiles    committed replacement part paths (absolute) —
    *                     manifest-mode callers fold these into the next manifest
    * @param matched      `countMatching` rows observed on the touched input
    *                     (−1 when not requested or not observable)
    * @param touchedRows  footer row-count sum of the touched originals
    * @param newRows      footer row-count sum of the replacements
    */
  final case class Stats(touched: Seq[String], total: Long, rewritten: Long,
      newFiles: Seq[String] = Nil, matched: Long = -1L,
      touchedRows: Long = 0L, newRows: Long = 0L)

  /** Exact row counts off parquet FOOTERS — driver-side metadata bounded
    * by file count (the same cardinality every commit protocol holds on
    * the coordinator), zero Spark jobs, zero row decoding. */
  private[sources] def footerRows(files: Seq[String]): Long =
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path("file://" + f),
        new org.apache.hadoop.conf.Configuration())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum

  private[sources] def localPath(uri: String): String =
    Paths.get(java.net.URI.create(
      if (uri.contains(":/")) uri else "file://" + uri)).toString

  /** Direct CoW DML is only legal on tables OUTSIDE the MoR manifest
    * protocol (see [[CowDelete]] scaladoc). */
  private[sources] def requireUnmanaged(path: String, stmt: String): Unit =
    require(!MorDelete.isManaged(path),
      s"$stmt: the table at $path is merge-on-read manifest-managed; direct " +
        "copy-on-write DML would bypass its snapshot manifests — use " +
        "MorDelete/MorUpsert and MorDelete.compact instead")

  /** @param matching selects the table rows that will change — a predicate
    *   filter for DELETE/UPDATE, a key semi-join for MERGE. Only the
    *   `_metadata.file_path` column of its result is ever materialized.
    * @param prefix name prefix for the committed replacement parts
    *   (MorDelete.compact embeds its sequence number there)
    * @param fileFilter driver-side narrowing of the touched-file list
    *   (MorDelete's density-targeted compaction); files it drops are left
    *   exactly as they are
    * @param liveFiles manifest mode: the live data files (absolute) —
    *   reads use this list instead of the directory listing
    * @param retainOriginals manifest mode: leave replaced originals on
    *   disk (the new manifest drops them; vacuum reclaims)
    * @param countMatching boolean predicate whose match count should ride
    *   the rewrite pass as an Observation (exact — every matching row
    *   lives in a touched file by construction — and free: no extra scan)
    */
  def rewrite(spark: SparkSession, path: String,
      matching: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)(
      transformTouched: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      prefix: String = "part-cow-",
      fileFilter: Seq[String] => Seq[String] = identity,
      liveFiles: Option[Seq[String]] = None,
      retainOriginals: Boolean = false,
      countMatching: Option[Column] = None): Stats = {
    if (liveFiles.isEmpty) requireUnmanaged(path, "row-level DML")
    val table = liveFiles match {
      case Some(fs) if fs.nonEmpty => MorDelete.readFiles(spark, path, fs)
      case Some(_) => return Stats(Nil, 0L, 0L)
      case None => spark.read.option("basePath", path).parquet(path)
    }

    // Touched-file discovery: a metadata-only projection under the
    // matching rows. The metadata pseudo-column is materialized BEFORE
    // `matching` runs — it resolves only directly on a file scan, and
    // MERGE's semi-join would lose it. distinct() keeps the exchange on
    // the (tiny) file-path column; the collect is bounded by the
    // touched-file count.
    val touched = fileFilter(
      matching(table.withColumn("__cow_fp", col("_metadata.file_path")))
        .select(col("__cow_fp"))
        .distinct()
        .collect()
        .map(r => localPath(r.getString(0)))
        .sorted
        .toSeq)
    // File count comes from the FileIndex the read already built — zero
    // Spark jobs — not a distributed distinct over the metadata column
    // (which would scan the table just to count its files, on every DML).
    val total = liveFiles.map(_.size.toLong).getOrElse(table.inputFiles.length.toLong)
    if (touched.isEmpty) return Stats(Nil, total, 0L, Nil,
      if (countMatching.isDefined) 0L else -1L)

    // Rewrite pass: re-read ONLY the touched files (basePath recovers
    // partition-directory columns) and apply the caller's transform.
    // Partition columns are re-materialized into directories on write so
    // staged parts mirror the table's own layout. The optional matched-row
    // count observes the SAME pass — the metrics node sits between the
    // scan and the transform, so no second scan ever runs.
    val base = Paths.get(path).toAbsolutePath
    val partitionCols = partitionColsOf(spark, table)
    // a metrics expression cannot hold an IN/EXISTS subquery — such a
    // predicate silently skips the observation (callers fall back to the
    // footer row counts or a separate count for their row-count result)
    val observable = countMatching.filterNot(p =>
      org.apache.spark.sql.GraftSqlBridge.toExpr(spark, p).exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.SubqueryExpression]))
    val obs = observable.map(_ =>
      org.apache.spark.sql.Observation(s"cow_dml_${UUID.randomUUID().toString.take(8)}"))
    // the touched files read at the table's (known) schema: no inference
    val source = spark.read.option("basePath", path).schema(table.schema).parquet(touched: _*)
    val observed = observable match {
      case Some(p) => source.observe(obs.get,
        sum(when(p, lit(1L)).otherwise(lit(0L))).as("matched"))
      case None => source
    }
    val rewritten = transformTouched(observed)
    val newFiles = moveIn(stage(spark, base, partitionCols, rewritten), base, prefix)
    // an all-empty observed input yields an EMPTY metrics map — zero rows
    val matched = obs.map(_.get.get("matched")
      .map(_.asInstanceOf[Long]).getOrElse(0L)).getOrElse(-1L)
    val (tRows, nRows) = (footerRows(touched), footerRows(newFiles))
    if (!retainOriginals) touched.foreach(f => Files.deleteIfExists(Paths.get(f)))
    Stats(touched, total, newFiles.size.toLong, newFiles, matched, tRows, nRows)
  }

  /** Partition-directory columns = table columns absent from the data
    * files, judged on the footer of the read's first file, read on the
    * driver — no Spark job. */
  def partitionColsOf(spark: SparkSession, table: org.apache.spark.sql.DataFrame): Seq[String] =
    table.inputFiles.headOption.map(localPath) match {
      case None => Nil
      case Some(f) =>
        val dataCols = MorDelete.footerSchema(spark, f).fieldNames.toSet
        table.schema.fieldNames.filterNot(dataCols).toSeq
    }

  /** Write `df` as parquet into a fresh stage directory next to `base`.
    * The write EXECUTES here — any lineage over the live table reads the
    * pre-swap files, which is what makes staging-before-swap safe.
    */
  def stage(spark: SparkSession, base: java.nio.file.Path,
      partitionCols: Seq[String], df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
    val dir = base.resolveSibling(base.getFileName.toString +
      s".cow_stage_${UUID.randomUUID().toString.take(8)}")
    val writer = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(dir.toString)
    dir
  }

  /** Move a stage's parts into `base` (the TableFinish/commit analog):
    * the stage is fully written and closed before anything moves, so a
    * crash before this point leaves the table intact and only orphans the
    * stage directory. Returns the committed parts' absolute paths —
    * manifest-mode callers publish them. `prefix` names the committed
    * parts (MorUpsert embeds its sequence number there).
    */
  def moveIn(stageDir: java.nio.file.Path, base: java.nio.file.Path,
      prefix: String = "part-cow-"): Seq[String] = {
    val staged = walk(stageDir.toFile).filter(_.getName.endsWith(".parquet"))
    val moved = staged.map { f =>
      val rel = stageDir.relativize(f.toPath.toAbsolutePath)
      val destDir = if (rel.getParent == null) base else base.resolve(rel.getParent)
      Files.createDirectories(destDir)
      val dest = destDir.resolve(
        s"$prefix${UUID.randomUUID().toString.take(8)}-${f.getName}")
      Files.move(f.toPath, dest, StandardCopyOption.ATOMIC_MOVE)
      dest.toString
    }
    deleteRecursively(stageDir.toFile)
    moved
  }

  def stageAndMove(spark: SparkSession, base: java.nio.file.Path,
      partitionCols: Seq[String], df: org.apache.spark.sql.DataFrame): Long =
    moveIn(stage(spark, base, partitionCols, df), base).size.toLong

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)

  private[sources] def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(); ()
  }
}
