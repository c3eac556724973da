package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.{Maintenance, MorDelete, MorUpsert}

/** Merge-on-read DELETE (sources/MorDelete.scala): correctness of the
  * anti-join read AND the mechanism claims — DELETE touches ZERO table
  * files (the write-amplification answer to SCALE_r13's cowdml cliff),
  * batches accumulate, compact() folds tombstones in via the CoW path,
  * and every commit — including compaction — publishes atomically
  * through a snapshot manifest: a reader overlapping any commit sees the
  * pre-state or the post-state, never a mix, and snapshots survive
  * compaction until Maintenance.vacuum expires them.
  */
class MorDeleteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  /** Jobs an upsert or a clause merge may launch on a small table. */
  private val UpsertJobBudget = 10

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the production environment: the Presto-compat layer re-registers
    // SQL functions (e.g. `contains` → array semantics), and engine code
    // resolving through the registry must survive it — a fileSeq draft
    // using Column.contains failed ONLY under this registration
    functions.GraftFunctions.register(spark)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def files(dir: String): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new File(dir))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified())
      .toMap
  }

  private def freshTable(): String = {
    val loc = Files.createTempDirectory("graft_mor").toString + "/t"
    Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .repartition(4).write.mode("overwrite").parquet(loc)
    loc
  }

  /** Spark jobs `body` launches: a listener over the drained bus. */
  private def jobsOf[T](body: => T): (T, Int) = {
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    val counter = new org.apache.spark.scheduler.SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val r = body
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      (r, counter.jobs.get())
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def keys(loc: String): Set[Long] =
    MorDelete.read(spark, loc).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet

  /** One representative row per o_orderkey (max of every other column) —
    * a cardinality-legal MERGE source over a table with duplicate keys. */
  private def oneRowPerKey(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("o_orderkey").agg(
      df.columns.filterNot(_ == "o_orderkey").toSeq
        .map(c => max(col(c)).as(c)).head,
      df.columns.filterNot(_ == "o_orderkey").toSeq
        .map(c => max(col(c)).as(c)).tail: _*)

  test("delete touches zero table files; reads apply tombstones; batches accumulate") {
    val loc = freshTable()
    val before = files(loc)
    val all = keys(loc)

    val s1 = MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    assert(s1.keysWritten > 0)
    assert(s1.rowsMatched == all.count(_ % 10 == 3),
      "rowsMatched must ride the key-extraction pass (orders keys are unique here)")
    assert(files(loc) == before, "a MoR delete must not touch any table file")
    assert(keys(loc) == all.filterNot(_ % 10 == 3))

    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 7, Seq("o_orderkey"))
    assert(files(loc) == before, "the second batch must not touch table files either")
    assert(keys(loc) == all.filterNot(k => k % 10 == 3 || k % 10 == 7),
      "tombstone batches accumulate")
    // every mutation publishes through the manifest protocol: genesis + 2
    assert(MorDelete.isManaged(loc))
    assert(new File(MorDelete.manifestDir(loc)).listFiles()
      .count(_.getName.startsWith("m-")) == 3)
  }

  test("equality-delete contract: one tombstoned key removes every row sharing it") {
    val loc = Files.createTempDirectory("graft_mor").toString + "/t"
    Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
      .write.mode("overwrite").parquet(loc)
    val victim = 7L
    MorDelete.delete(spark, loc, col("l_orderkey") === victim, Seq("l_orderkey"))
    assert(MorDelete.read(spark, loc)
      .filter(col("l_orderkey") === victim).count() == 0,
      "every lineitem of the tombstoned order must disappear")
  }

  test("compact folds tombstones in via CoW; vacuum(0) restores a physically clean table") {
    val loc = freshTable()
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    val preCompact = keys(loc)
    val stats = MorDelete.compact(spark, loc)
    assert(stats.touched.nonEmpty, "the scattered tombstones live in some file")
    assert(keys(loc) == preCompact, "compaction must not change the visible rows")
    // the replaced originals and folded batches are RETAINED for readers
    // holding older manifests; vacuum(0,0) expires and reclaims them
    Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
    assert(!new File(MorDelete.sidecarDir(loc)).exists(),
      "a full compact + vacuum must clear the sidecar")
    assert(keys(loc) == preCompact)
    // post-vacuum the table is physically clean: a raw read agrees too
    assert(spark.read.parquet(loc).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet == preCompact)
    // and compacting again is a no-op
    val again = MorDelete.compact(spark, loc)
    assert(again.touched.isEmpty && again.rewritten == 0L)
  }

  test("a second batch with a different key set is refused until compaction") {
    val loc = freshTable()
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    val e = intercept[IllegalArgumentException] {
      MorDelete.delete(spark, loc, col("o_custkey") === 1, Seq("o_custkey"))
    }
    assert(e.getMessage.contains("compact() before changing the key set"))
    MorDelete.compact(spark, loc)
    // after compaction the LIVE batch set is empty (the folded batches are
    // merely retained for older snapshots), so a new key set is fine —
    // even before any vacuum
    MorDelete.delete(spark, loc, col("o_custkey") % 50 === 1, Seq("o_custkey"))
    assert(MorDelete.read(spark, loc)
      .filter(col("o_custkey") % 50 === 1).count() == 0)
  }

  test("partitioned layout: tombstones, reads, and compaction keep partition columns intact") {
    val loc = Files.createTempDirectory("graft_mor").toString + "/t"
    Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(loc)
    val all = spark.read.option("basePath", loc).parquet(loc)
    val nAll = all.count()
    val nUrgent = all.filter(col("o_orderpriority") === "1-URGENT").count()
    // predicate on the PARTITION column, keys on a data column
    MorDelete.delete(spark, loc, col("o_orderpriority") === "1-URGENT", Seq("o_orderkey"))
    val visible = MorDelete.read(spark, loc)
    assert(visible.filter(col("o_orderpriority") === "1-URGENT").count() == 0)
    // equality semantics: urgent ORDER KEYS are tombstoned, so any
    // same-key rows in other partitions die too — count via the key set
    val urgentKeys = all.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey").distinct()
    val collateral = all.join(urgentKeys, Seq("o_orderkey"), "left_semi").count()
    assert(visible.count() == nAll - collateral)
    assert(collateral >= nUrgent)
    val stats = MorDelete.compact(spark, loc)
    assert(stats.touched.nonEmpty)
    Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
    val after = spark.read.option("basePath", loc).parquet(loc)
    assert(after.count() == nAll - collateral)
    assert(after.columns.contains("o_orderpriority"),
      "partition-directory column must survive the compaction rewrite")
  }

  test("MoR reads keep parquet pushdown and pruning under the anti-join") {
    val loc = freshTable()
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    // the anti-join sits ABOVE the scan, so a caller's predicate must
    // still reach the parquet reader as a pushed filter (the scaladoc's
    // scale claim, plan-locked) — including through the manifest-resolved
    // file list
    val plan = MorDelete.read(spark, loc)
      .filter(col("o_custkey") > 100L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(o_custkey"),
      s"caller predicates must push into the scan under the MoR anti-join:\n" +
        plan.linesIterator.take(25).mkString("\n"))
  }

  test("pure-delete table plans a plain equi anti-join; an appended part restores the seq compare") {
    // r18 fast path: when no data file postdates any DML (max nameSeq over
    // the snapshot == 0), every tombstone row's seq (≥ 1) beats every row's
    // file seq (0), so the `__mor_fseq < seq` clause is constant-true and
    // the read neither materializes _metadata.file_path nor parses a name
    // per row. The edge the fuzz caught on the first draft (seed 1234 step
    // 10): a merged sidecar batch directory is named at the MAX seq while
    // its rows PRESERVE lower per-key seqs — so the fast path must key off
    // data-file names alone, never off batch-directory names.
    val loc = freshTable()
    val all = keys(loc)
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 7, Seq("o_orderkey"))
    val fast = MorDelete.read(spark, loc).queryExecution.executedPlan.toString
    assert(!fast.contains("__mor_fseq") && !fast.contains("file_path"),
      "base-files-plus-deletes must take the equi fast path (no per-row name parse):\n" +
        fast.linesIterator.take(25).mkString("\n"))
    assert(keys(loc) == all.filterNot(k => k % 10 == 3 || k % 10 == 7))

    // re-insert one doomed key — the upsert appends a part-morN file whose
    // rows must SURVIVE the key's older tombstone — then merge the batches:
    // under the merged (max-named) directory only per-row seqs prove that
    val victim = all.filter(_ % 10 == 3).min
    MorUpsert.upsert(spark, loc,
      oneRowPerKey(spark.read.parquet(loc).filter(col("o_orderkey") === victim)),
      Seq("o_orderkey"))
    MorDelete.compactSidecar(spark, loc)
    assert(keys(loc) == all.filterNot(k => k % 10 == 3 || k % 10 == 7) + victim,
      "the re-upserted key must survive its own (merged) tombstones")
    val full = MorDelete.read(spark, loc).queryExecution.executedPlan.toString
    assert(full.contains("__mor_fseq"),
      "a part-mor append must restore the full sequence-compared anti-join")
  }

  test("read without any tombstones is the raw table") {
    val loc = freshTable()
    assert(MorDelete.read(spark, loc).count() ==
      spark.read.parquet(loc).count())
  }

  test("upsert: replacements survive their own tombstones, old copies die, inserts append") {
    val loc = freshTable()
    val before = files(loc)
    val orders = MorDelete.read(spark, loc)
    val nBefore = orders.count()
    // source: 5 existing keys with a changed priority + 3 brand-new keys
    // (one representative row per key, built generically off the schema —
    // the synthetic orders table carries a subset of the TPC-H columns)
    val updates = oneRowPerKey(spark.read.parquet(loc)
      .filter(col("o_orderkey").isin(1L, 2L, 3L, 4L, 5L)))
      .withColumn("o_orderpriority", lit("9-UPSERTED"))
    val inserts = updates.limit(3)
      .withColumn("o_orderkey", col("o_orderkey") + lit(900000000L))
    val src = updates.unionByName(inserts)
    val dupBefore = spark.read.parquet(loc)
      .filter(col("o_orderkey").isin(1L, 2L, 3L, 4L, 5L)).count()
    val stats = graft.sources.MorUpsert.upsert(spark, loc, src, Seq("o_orderkey"))
    assert(stats.keysTombstoned == 5, "only the matched keys tombstone")
    assert(stats.filesAppended > 0)
    assert(before.forall { case (p, m) => files(loc).get(p).contains(m) },
      "every pre-existing table file survives an upsert untouched")
    val after = MorDelete.read(spark, loc)
    assert(after.count() == nBefore - dupBefore + 5 + 3,
      "all old copies of upserted keys die; one replacement each; three inserts")
    val upserted = after.filter(col("o_orderkey").isin(1L, 2L, 3L, 4L, 5L))
      .select("o_orderpriority").distinct().collect().map(_.getString(0)).toSeq
    assert(upserted == Seq("9-UPSERTED"), "reads must see the replacement rows win")
    assert(after.filter(col("o_orderkey") > 900000000L).count() == 3)
  }

  test("delete predicates see the RESOLVED view, not superseded raw rows") {
    val loc = freshTable()
    val raw = spark.read.parquet(loc)
    // key 1's pre-upsert priority: after the upsert replaces the row, a
    // delete matching only that OLD value must not touch key 1 — a
    // raw-table predicate would extract key 1 from the dead row and
    // tombstone the live replacement at a higher sequence
    val oldPriority = raw.filter(col("o_orderkey") === 1L)
      .select("o_orderpriority").head().getString(0)
    val one = oneRowPerKey(raw.filter(col("o_orderkey") === 1L))
      .withColumn("o_orderpriority", lit("9-UPSERTED"))
    graft.sources.MorUpsert.upsert(spark, loc, one, Seq("o_orderkey"))
    MorDelete.delete(spark, loc, col("o_orderpriority") === oldPriority, Seq("o_orderkey"))
    val visible = MorDelete.read(spark, loc)
    assert(visible.filter(col("o_orderkey") === 1L).count() == 1,
      "the live replacement row must survive a delete matching only its dead predecessor")
    assert(visible.filter(col("o_orderpriority") === oldPriority).count() == 0,
      "every key whose LIVE row matches the predicate must still die")
  }

  test("a zero-match delete commits nothing and later DML still works") {
    val loc = freshTable()
    val s0 = MorDelete.delete(spark, loc, col("o_orderkey") === -999L, Seq("o_orderkey"))
    assert(s0.keysWritten == 0 && s0.sidecarFiles == 0 && s0.rowsMatched == 0)
    assert(!new File(MorDelete.sidecarDir(loc)).exists(),
      "a no-op delete must not create an empty batch (it would lock in the key set)")
    // the regression this pins: an empty sidecar file made max(__mor_seq)
    // NULL and every subsequent delete/upsert crashed until compact()
    val all = keys(loc)
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    assert(keys(loc) == all.filterNot(_ % 10 == 3))
    val one = oneRowPerKey(spark.read.parquet(loc).filter(col("o_orderkey") === 2L))
      .withColumn("o_orderpriority", lit("9-UPSERTED"))
    graft.sources.MorUpsert.upsert(spark, loc, one, Seq("o_orderkey"))
    assert(MorDelete.read(spark, loc).filter(col("o_orderkey") === 2L)
      .select("o_orderpriority").head().getString(0) == "9-UPSERTED")
  }

  test("readAt pins a snapshot across later deletes, merges, AND compactions") {
    val loc = freshTable()
    val all = keys(loc)
    val snap0 = MorDelete.currentSeq(spark, loc)
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    val snap1 = MorDelete.currentSeq(spark, loc)
    val one = oneRowPerKey(spark.read.parquet(loc).filter(col("o_orderkey") === 2L))
      .withColumn("o_orderpriority", lit("9-UPSERTED"))
    graft.sources.MorUpsert.upsert(spark, loc, one, Seq("o_orderkey"))
    assert(snap1 > snap0)
    assert(MorDelete.currentSeq(spark, loc) > snap1)
    // the pre-DML snapshot: the original rows, bit for bit
    assert(MorDelete.readAt(spark, loc, snap0).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet == all,
      "a reader pinned before the DML must see the pre-DML rows")
    // the mid-DML snapshot: delete applied, upsert not yet
    val at1 = MorDelete.readAt(spark, loc, snap1)
    assert(at1.select("o_orderkey").collect().map(_.getLong(0)).toSet ==
      all.filterNot(_ % 10 == 3))
    assert(at1.filter(col("o_orderpriority") === "9-UPSERTED").count() == 0)
    // the unpinned read is the latest snapshot
    assert(MorDelete.readAt(spark, loc, MorDelete.currentSeq(spark, loc))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet ==
      keys(loc))
    // the r14 contract ended here: "compact() invalidates older
    // snapshots". Under the manifest protocol it no longer does —
    // compaction retains the files older manifests reference
    val latest = keys(loc)
    MorDelete.compact(spark, loc)
    assert(MorDelete.readAt(spark, loc, snap0).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet == all,
      "a snapshot must SURVIVE a compaction (retained files)")
    assert(MorDelete.readAt(spark, loc, snap1).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet == all.filterNot(_ % 10 == 3))
    assert(keys(loc) == latest, "the live read is unchanged by compaction")
    // ...until vacuum EXPIRES the old manifests (the Iceberg
    // snapshot-expiry contract): then the pinned read fails loudly
    Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
    val e = intercept[IllegalStateException](MorDelete.readAt(spark, loc, snap0))
    assert(e.getMessage.contains("expired") || e.getMessage.contains("no retained snapshot"))
    assert(keys(loc) == latest, "vacuum must not change the live view")
  }

  test("read-during-compact: a reader holding the pre-compact manifest sees the exact pre-state") {
    val loc = freshTable()
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    val expected = keys(loc)
    // a reader that resolved the manifest BEFORE the compaction: its plan
    // (file list + batches) is pinned at construction, exactly like a
    // query running while compact() commits
    val overlapping = MorDelete.read(spark, loc).select("o_orderkey")
    MorDelete.compact(spark, loc)
    assert(overlapping.collect().map(_.getLong(0)).toSet == expected,
      "a reader overlapping the compaction must see the complete pre-state " +
        "(retained files), never missing files or transient duplicates")
    // the post-commit reader resolves the new manifest: same visible rows
    assert(keys(loc) == expected)
    // compacted survivors are sequence-named, so tombstones retained for
    // older snapshots are no-ops against them
    assert(files(loc).keys.exists(_.contains("part-mor1-")),
      "compacted survivors must be sequence-named")
    // the raw directory now holds BOTH generations (why raw reads of a
    // managed table are undefined until vacuum)
    assert(spark.read.parquet(loc).count() > MorDelete.read(spark, loc).count())
    Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
    assert(spark.read.parquet(loc).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet == expected)
  }

  test("single-writer lock: a held lock fails DML loudly; release restores it") {
    val loc = freshTable()
    val lock = new File(MorDelete.sidecarDir(loc) + ".lock")
    assert(lock.createNewFile())
    val e = intercept[IllegalStateException] {
      MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    }
    assert(e.getMessage.contains("SINGLE-WRITER"))
    assert(lock.delete())
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    assert(keys(loc).forall(_ % 10 != 3))
  }

  test("vacuum: reclaims crashed stages past the grace period, never a live writer's") {
    val loc = freshTable()
    val before = files(loc)
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    val expected = keys(loc)
    // plant all three crash shapes: an undrained CoW stage next to the
    // table, an unrenamed tombstone stage inside the sidecar, and an
    // unrenamed manifest temp
    val t = java.nio.file.Paths.get(loc).toAbsolutePath
    val cowStage = new File(t.getParent.toFile, t.getFileName.toString + ".cow_stage_dead1")
    cowStage.mkdirs()
    java.nio.file.Files.write(new File(cowStage, "part-x.parquet").toPath, Array[Byte](1, 2, 3))
    val sideStage = new File(MorDelete.sidecarDir(loc), ".stage-dead2")
    sideStage.mkdirs()
    java.nio.file.Files.write(new File(sideStage, "x.parquet").toPath, Array[Byte](4, 5))
    // a held writer lock blocks the sweep (the lock holder may be
    // mid-commit with not-yet-published files)
    val lock = new File(MorDelete.sidecarDir(loc) + ".lock")
    assert(lock.createNewFile())
    intercept[IllegalStateException](Maintenance.vacuum(loc))
    assert(lock.delete())
    // the GRACE PERIOD protects a LIVE pure-CoW writer's stage (CoW DML
    // holds no MoR lock): a fresh stage survives the default sweep
    val graceStats = Maintenance.vacuum(loc)
    assert(graceStats.dirsRemoved == 0 && cowStage.exists() && sideStage.exists(),
      "stages younger than the grace period must survive (a live CoW writer may own them)")
    // past the grace period they are crash garbage
    val stats = Maintenance.vacuum(loc, retentionMs = Long.MaxValue / 2, stageGraceMs = 0)
    assert(stats.dirsRemoved == 2 && stats.bytesReclaimed == 5L)
    assert(!cowStage.exists() && !sideStage.exists())
    assert(files(loc) == before, "vacuum must not touch live table files")
    assert(keys(loc) == expected, "vacuum must not change the visible rows")
    // committed, still-referenced batch directories survive
    assert(new File(MorDelete.sidecarDir(loc)).listFiles()
      .exists(_.getName.startsWith("batch-")))
    // idempotent on a clean table
    assert(Maintenance.vacuum(loc, Long.MaxValue / 2, 0).dirsRemoved == 0)
  }

  test("an uncommitted (crashed) stage directory is invisible to readers") {
    val loc = freshTable()
    val all = keys(loc)
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    val expected = all.filterNot(_ % 10 == 3)
    // a writer that crashed mid-stage leaves `.stage-*` garbage with MORE
    // tombstones; the commit is the manifest rename, so none of those
    // keys may disappear from reads
    spark.createDataFrame(
        java.util.Arrays.asList(expected.filter(_ % 10 == 5).toSeq.map(org.apache.spark.sql.Row(_)): _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("o_orderkey",
            org.apache.spark.sql.types.LongType))))
      .withColumn("__mor_seq", lit(2L))
      .write.parquet(MorDelete.sidecarDir(loc) + "/.stage-crashed")
    assert(keys(loc) == expected,
      "an unrenamed stage directory must never act as committed tombstones")
    // and so is a RENAMED batch that no manifest references (a writer
    // that crashed between the batch rename and the manifest commit)
    new File(MorDelete.sidecarDir(loc) + "/.stage-crashed")
      .renameTo(new File(MorDelete.sidecarDir(loc) + "/batch-2-orphan"))
    assert(keys(loc) == expected,
      "a batch directory outside every manifest must never act as committed")
    // vacuum reclaims the orphan (it is referenced by no manifest)
    Maintenance.vacuum(loc, retentionMs = Long.MaxValue / 2, stageGraceMs = 0)
    assert(!new File(MorDelete.sidecarDir(loc) + "/batch-2-orphan").exists())
    assert(keys(loc) == expected)
  }

  test("merge clauses: conditional delete, conditional update, untouched remainder, insert") {
    val loc = freshTable()
    val raw = spark.read.parquet(loc)
    val nRowsPerKey = raw.filter(col("o_orderkey").isin(1L to 6L map (identity): _*))
      .groupBy("o_orderkey").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // source: keys 1-3 priced negative (delete clause), 4-5 at 500
    // (update clause), 6 at 5000 (matched, neither clause -> untouched),
    // +3 unmatched inserts
    val base = oneRowPerKey(raw.filter(col("o_orderkey").isin(1L to 6L map (identity): _*)))
    val src = base
      .withColumn("o_totalprice",
        when(col("o_orderkey") <= 3L, lit(-1.0))
          .when(col("o_orderkey") <= 5L, lit(500.0))
          .otherwise(lit(5000.0)))
      .unionByName(base.limit(3)
        .withColumn("o_orderkey", col("o_orderkey") + lit(900000000L)))
    val stats = graft.sources.MorUpsert.merge(spark, loc, src, Seq("o_orderkey"),
      deleteWhen = Some(col("src_o_totalprice") < 0),
      updateWhen = Some(col("src_o_totalprice").between(0, 1000)))
    assert(stats.keysDeleted == 3 && stats.keysUpdated == 2 && stats.rowsInserted == 3)
    val after = MorDelete.read(spark, loc)
    assert(after.filter(col("o_orderkey").between(1L, 3L)).count() == 0,
      "delete clause tombstones")
    assert(after.filter(col("o_orderkey").isin(4L, 5L))
      .select("o_totalprice").collect().map(_.getDouble(0)).toSeq == Seq(500.0, 500.0),
      "update clause replaces (one row per key)")
    assert(after.filter(col("o_orderkey") === 6L).count() == nRowsPerKey(6L),
      "a matched key claimed by neither clause keeps ALL its rows")
    assert(after.filter(col("o_orderkey") > 900000000L).count() == 3, "inserts append")

    // clause conditions can read the TARGET row's columns too: delete
    // key 6 only if its live row still carries its original priority
    val p6 = after.filter(col("o_orderkey") === 6L)
      .select("o_orderpriority").head().getString(0)
    val src6 = oneRowPerKey(after.filter(col("o_orderkey") === 6L))
    val s2 = graft.sources.MorUpsert.merge(spark, loc, src6, Seq("o_orderkey"),
      deleteWhen = Some(col("o_orderpriority") === p6),
      insertUnmatched = false)
    assert(s2.keysDeleted == 1 && s2.keysUpdated == 0 && s2.rowsInserted == 0)
    assert(MorDelete.read(spark, loc).filter(col("o_orderkey") === 6L).count() == 0)
  }

  test("merge preconditions fail BEFORE anything stages or commits") {
    val loc = freshTable()
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    val expected = keys(loc)
    val before = files(loc)
    val manifestsBefore = new File(MorDelete.manifestDir(loc)).listFiles().map(_.getName).toSet
    // a merge keyed DIFFERENTLY from the live sidecar must refuse up
    // front — the r14-advice ordering bug moved replacement parts in
    // FIRST and then failed the key-set require, leaving the table
    // permanently duplicated
    val src = oneRowPerKey(spark.read.parquet(loc).filter(col("o_orderkey") === 2L))
    val e = intercept[IllegalArgumentException] {
      graft.sources.MorUpsert.merge(spark, loc,
        src.withColumnRenamed("o_orderkey", "o_orderkey"), Seq("o_custkey"))
    }
    assert(e.getMessage.contains("compact() before changing the key set"))
    assert(files(loc) == before, "no part file may move in before the precondition check")
    assert(new File(MorDelete.manifestDir(loc)).listFiles().map(_.getName).toSet ==
      manifestsBefore, "no manifest may commit for a refused merge")
    assert(keys(loc) == expected)
  }

  test("targeted compaction rewrites only dense files and keeps reads exact") {
    val loc = Files.createTempDirectory("graft_mor").toString + "/t"
    Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .repartitionByRange(4, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(loc)
    val ks = spark.read.parquet(loc).select("o_orderkey")
      .collect().map(_.getLong(0)).sorted
    val cut = ks(ks.length / 4) // ~ the first range file's upper edge
    val maxK = ks.last
    // doomed rows: all of file 1 (dense) plus one key in the last file
    MorDelete.delete(spark, loc,
      col("o_orderkey") < cut || col("o_orderkey") === maxK, Seq("o_orderkey"))
    val expected = keys(loc)
    val doomedOnDisk = spark.read.parquet(loc)
      .filter(col("o_orderkey") < cut || col("o_orderkey") === maxK).count()
    val partial = MorDelete.compact(spark, loc, minDoomedFraction = 0.5)
    // range-partition boundaries are sampled, so the dense predicate may
    // graze a second file below the threshold — the contract is "some but
    // not all files rewrite", not an exact file count
    assert(partial.touched.nonEmpty && partial.touched.size < partial.total,
      s"only the dense file(s) should rewrite, got ${partial.touched}")
    assert(new File(MorDelete.sidecarDir(loc)).exists(),
      "partial compaction must carry the sidecar (tombstones may still matter)")
    assert(keys(loc) == expected, "reads are exact after a partial compaction")
    // after vacuum, the dense bulk is physically gone from disk even
    // though the tombstones remain; only the sparse tail (uncompacted
    // files) lingers
    Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
    assert(keys(loc) == expected, "vacuum must not change the visible rows")
    val remaining = spark.read.parquet(loc)
      .filter(col("o_orderkey") < cut || col("o_orderkey") === maxK).count()
    assert(remaining < doomedOnDisk / 2,
      s"the dense file's doomed rows must leave disk: $remaining of $doomedOnDisk remain")
    val full = MorDelete.compact(spark, loc)
    Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
    assert(!new File(MorDelete.sidecarDir(loc)).exists())
    assert(keys(loc) == expected)
    assert(full.touched.nonEmpty, "the sparse file still held one doomed key")
  }

  test("upsert on a partitioned layout: appended parts land in partition directories") {
    val loc = Files.createTempDirectory("graft_mor").toString + "/t"
    Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(loc)
    val before = files(loc)
    val table = spark.read.option("basePath", loc).parquet(loc)
    val src = oneRowPerKey(table.filter(col("o_orderkey").isin(1L, 2L, 3L)))
      .withColumn("o_orderpriority", lit("9-UPSERTED")) // a brand-new partition
      .select(table.columns.toSeq.map(col): _*)
    val stats = graft.sources.MorUpsert.upsert(spark, loc, src, Seq("o_orderkey"))
    assert(stats.keysTombstoned == 3 && stats.filesAppended > 0)
    assert(before.forall { case (p, m) => files(loc).get(p).contains(m) },
      "no pre-existing partition file may be touched")
    val after = MorDelete.read(spark, loc)
    assert(after.filter(col("o_orderkey").isin(1L, 2L, 3L))
      .select("o_orderpriority").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("9-UPSERTED"),
      "replacements must win and carry the partition-directory column")
    assert(new File(loc, "o_orderpriority=9-UPSERTED").isDirectory,
      "the appended rows must land in their own partition directory")
    // a clause merge on the analyzed (stats-indexed) partitioned table: its
    // partition columns come from the live files' paths, not a sample job
    Maintenance.analyze(spark, loc, Seq("o_orderkey"))
    val live = MorDelete.read(spark, loc)
    val m = MorUpsert.merge(spark, loc,
      live.filter(col("o_orderkey").isin(4L, 5L, 6L, 7L)).select(live.columns.toSeq.map(col): _*),
      Seq("o_orderkey"), deleteWhen = Some(col("o_orderkey") === 4L),
      updateSet = Some(Seq("o_totalprice" -> (col("src_o_totalprice") + 1.0))))
    assert(m.keysDeleted == 1 && m.keysUpdated == 3 && m.rowsInserted == 0)
    // compact + vacuum fold everything back while keeping the partition layout
    MorDelete.compact(spark, loc)
    val base = java.nio.file.Paths.get(loc).toAbsolutePath
    MorDelete.liveState(spark, loc).dataFiles.foreach { f =>
      assert(base.relativize(java.nio.file.Paths.get(f)).getName(0).toString
        .startsWith("o_orderpriority="), s"live file outside a partition directory: $f")
    }
    assert(sortedRows(MorDelete.read(spark, loc)) ==
      sortedRows(MorDelete.readIgnoringStats(spark, loc)))
    assert(MorDelete.read(spark, loc).filter(col("o_orderkey") === 4L).count() == 0)
    Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
    val physical = spark.read.option("basePath", loc).parquet(loc)
    assert(physical.filter(col("o_orderkey").isin(1L, 2L, 3L) &&
      col("o_orderpriority") =!= "9-UPSERTED").count() == 0)
  }

  test("sequencing: a later delete removes an earlier upsert's replacement; compact folds all") {
    val loc = freshTable()
    val one = oneRowPerKey(spark.read.parquet(loc).filter(col("o_orderkey") === 1L))
      .withColumn("o_orderpriority", lit("9-UPSERTED"))
    graft.sources.MorUpsert.upsert(spark, loc, one, Seq("o_orderkey"))
    assert(MorDelete.read(spark, loc).filter(col("o_orderkey") === 1L).count() == 1)
    MorDelete.delete(spark, loc, col("o_orderkey") === 1L, Seq("o_orderkey"))
    assert(MorDelete.read(spark, loc).filter(col("o_orderkey") === 1L).count() == 0,
      "the higher-sequence tombstone must delete the replacement row too")
    val preCompact = keys(loc)
    MorDelete.compact(spark, loc)
    assert(keys(loc) == preCompact, "compaction preserves the sequenced view")
    Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
    assert(spark.read.parquet(loc).filter(col("o_orderkey") === 1L).count() == 0,
      "post-vacuum the physical table agrees")
  }

  test("direct CoW DML on a manifest-managed table is refused loudly") {
    val loc = freshTable()
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    val e = intercept[IllegalArgumentException] {
      graft.sources.CowDelete.delete(spark, loc, col("o_orderkey") % 10 === 7)
    }
    assert(e.getMessage.contains("manifest-managed"))
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.CowMerge.merge(spark, loc,
        oneRowPerKey(spark.read.parquet(loc).filter(col("o_orderkey") === 2L)),
        Seq("o_orderkey"), Seq("o_totalprice" -> lit(1.0)))
    }
    assert(e2.getMessage.contains("manifest-managed"))
  }

  test("compactSidecar merges batches bit-identically, preserves snapshots and sequencing") {
    val loc = freshTable()
    // three batches + an upsert (so row-level sequences matter: the
    // replacement row must keep surviving its own tombstone after the
    // sidecar merge)
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    val snapMid = MorDelete.currentSeq(spark, loc)
    val midKeys = keys(loc)
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 4, Seq("o_orderkey"))
    val one = oneRowPerKey(spark.read.parquet(loc).filter(col("o_orderkey") === 2L))
      .withColumn("o_orderpriority", lit("9-UPSERTED"))
    graft.sources.MorUpsert.upsert(spark, loc, one, Seq("o_orderkey"))
    val before = MorDelete.read(spark, loc).select("o_orderkey", "o_orderpriority")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(MorDelete.liveState(spark, loc).batches.size == 3)

    assert(MorDelete.compactSidecar(spark, loc) == 1L)
    assert(MorDelete.liveState(spark, loc).batches.size == 1,
      "the live manifest must carry exactly the merged batch")
    val after = MorDelete.read(spark, loc).select("o_orderkey", "o_orderpriority")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(after == before, "the resolved view must be bit-identical across the merge")
    assert(after.exists(_._2 == "9-UPSERTED"),
      "the upsert replacement must keep surviving its own tombstone")

    // a snapshot pinned between the batches resolves a pre-merge
    // manifest: replaced batches are retained until vacuum
    assert(MorDelete.readAt(spark, loc, snapMid).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet == midKeys,
      "a mid-batch snapshot must survive the sidecar merge")

    // later DML sequences above the merged batch and still supersedes
    MorDelete.delete(spark, loc, col("o_orderkey") === 2L, Seq("o_orderkey"))
    assert(!keys(loc).contains(2L),
      "a later delete must kill the merged-era replacement row")

    // vacuum reclaims the replaced batch directories
    Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
    val batchDirs = Option(new File(MorDelete.sidecarDir(loc)).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("batch-"))
    assert(batchDirs.length == 2,
      s"vacuum must leave the merged batch + the later delete's, got " +
        batchDirs.map(_.getName).mkString(", "))
  }

  test("maintain() triggers each step exactly at its threshold and never changes the view") {
    val loc = freshTable()
    // 3 small batches: below both thresholds — only vacuum runs
    (0 until 3).foreach(i =>
      MorDelete.delete(spark, loc, col("o_orderkey") % 100 === i, Seq("o_orderkey")))
    val view0 = keys(loc)
    val s1 = Maintenance.maintain(spark, loc, maxBatches = 8, compactAt = 0.2)
    assert(!s1.sidecarMerged && !s1.compacted)
    assert(keys(loc) == view0, "maintenance must never change the resolved view")
    // 9 batches: past maxBatches — the sidecar merges, still no compact
    (3 until 9).foreach(i =>
      MorDelete.delete(spark, loc, col("o_orderkey") % 100 === i, Seq("o_orderkey")))
    val view1 = keys(loc)
    val s2 = Maintenance.maintain(spark, loc, maxBatches = 8, compactAt = 0.5)
    assert(s2.sidecarMerged && !s2.compacted)
    assert(MorDelete.liveState(spark, loc).batches.size == 1)
    assert(keys(loc) == view1)
    // a mass delete pushes the doomed fraction past compactAt — compacts
    MorDelete.delete(spark, loc, col("o_orderkey") % 2 === 0, Seq("o_orderkey"))
    val view2 = keys(loc)
    val s3 = Maintenance.maintain(spark, loc, maxBatches = 8, compactAt = 0.2,
      retentionMs = 0, stageGraceMs = 0)
    assert(s3.compacted, "a half-tombstoned table must compact at compactAt=0.2")
    assert(keys(loc) == view2)
    // the policy compact is DENSITY-TARGETED (minDoomedFraction), so it
    // may carry batches for the thin tail; a full fold is the 0.0 arm
    val s4 = Maintenance.maintain(spark, loc, compactAt = 0.0,
      minDoomedFraction = 0.0, retentionMs = 0, stageGraceMs = 0)
    assert(s4.compacted)
    assert(MorDelete.liveState(spark, loc).batches.isEmpty,
      "the full (0.0) compact folds every tombstone in")
    assert(keys(loc) == view2)
    // stats refresh: a never-analyzed table never pays the step; once
    // analyzed, the policy heals coverage after appends/rewrites leave
    // stats-less files, and a covered table skips it again
    assert(!s4.statsRefreshed, "a never-analyzed table must not pay the stats step")
    Maintenance.analyze(spark, loc)
    val src = oneRowPerKey(MorDelete.read(spark, loc)
      .filter(col("o_orderkey") % 100 === 51)
      .withColumn("o_totalprice", col("o_totalprice") + 1))
    graft.sources.MorUpsert.upsert(spark, loc, src, Seq("o_orderkey"))
    val view3 = keys(loc)
    // the upsert published WRITE-PATH stats for its appends in its own
    // commit — coverage never opened, so the policy's refresh step has
    // nothing to do (it exists for COMPACTION replacements, below)
    val stF = MorDelete.liveState(spark, loc)
    assert(stF.dataFiles.forall(f => stF.stats.get(f).exists(_.nonEmpty)),
      "merge appends carry write-path stats — no stats-less window")
    val s5 = Maintenance.maintain(spark, loc, compactAt = 1.1,
      retentionMs = 0, stageGraceMs = 0)
    assert(!s5.statsRefreshed,
      "a table kept covered by write-path stats skips the refresh step")
    assert(keys(loc) == view3)
    // a FULL rewrite publishes write-path stats for its own files — no
    // lapse — and carries the analyzed column set
    graft.sources.Layout.zorderRewrite(spark, loc,
      Seq("o_orderkey", "o_custkey"), nFiles = 2)
    val stZ = MorDelete.liveState(spark, loc)
    assert(stZ.statCols.nonEmpty &&
      stZ.dataFiles.forall(f => stZ.stats.get(f).exists(_.nonEmpty)),
      "the rewrite re-covers its own files in the committing manifest")
    // heal-from-zero (a pre-r16 table, or interop that stripped entries):
    // the recorded column set (manifest `C` line) re-seeds coverage
    MorDelete.publishManifest(loc, MorDelete.currentSeq(spark, loc),
      stZ.copy(stats = Map.empty))
    val s7 = Maintenance.maintain(spark, loc, compactAt = 1.1,
      retentionMs = 0, stageGraceMs = 0)
    assert(s7.statsRefreshed, "the carried column set re-seeds coverage from zero")
    val stG = MorDelete.liveState(spark, loc)
    assert(stG.dataFiles.forall(f => stG.stats.get(f).exists(_.nonEmpty)) &&
      stG.statCols == stZ.statCols)
    assert(keys(loc) == view3)
  }

  test("a concurrent reader only ever observes committed states — live, not construct-then-commit") {
    val loc = freshTable()
    // deterministic plan: 8 residue deletes whose post-commit row counts
    // are computable up front, so the reader's observations can be
    // checked against the FULL set of legal states without racing the
    // bookkeeping itself
    val residues = Seq(3, 7, 11, 4, 9, 1, 6, 8)
    val rows0 = spark.read.parquet(loc).select("o_orderkey")
      .collect().map(_.getLong(0)).toSeq
    val legal = scala.collection.mutable.Set(rows0.size.toLong)
    var live = rows0
    residues.foreach { r =>
      val doomed = live.filter(_ % 20 == r).toSet
      live = live.filterNot(doomed)
      legal += live.size.toLong
    }
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var done = false
    val reader = new Thread(() =>
      try while (!done) observed.add(MorDelete.read(spark, loc).count())
      catch { case t: Throwable => failures.add(t); () })
    reader.start()
    try {
      residues.zipWithIndex.foreach { case (r, i) =>
        MorDelete.delete(spark, loc, col("o_orderkey") % 20 === r, Seq("o_orderkey"))
        // physical reorganization mid-stream: none of it may surface
        if (i == 3) MorDelete.compactSidecar(spark, loc)
        if (i == 5) {
          MorDelete.compact(spark, loc, minDoomedFraction = 0.5)
          // vacuum UNDER live readers per its contract: retention must
          // exceed the longest overlapping read (zero-retention vacuum
          // during reads is the documented way to break them)
          Maintenance.vacuum(loc, retentionMs = 60000, stageGraceMs = 60000)
        }
      }
    } finally { done = true; reader.join(30000) }
    assert(failures.isEmpty,
      s"a concurrent reader must never throw: ${Option(failures.peek()).map(_.toString)}")
    val counts = scala.jdk.CollectionConverters.IteratorHasAsScala(
      observed.iterator()).asScala.toSet
    assert(counts.nonEmpty, "the reader thread must have completed at least one read")
    assert(counts.subsetOf(legal.toSet),
      s"every observed count must be a committed state: saw ${counts -- legal}, legal $legal")
    assert(MorDelete.read(spark, loc).count() == live.size.toLong)
  }

  test("sharded manifests: content-addressed reuse, identical reads, snapshot survival, vacuum") {
    val fm = MorDelete.manifestFlatMax
    val tg = MorDelete.manifestShardTarget
    MorDelete.manifestFlatMax = 4
    MorDelete.manifestShardTarget = 4
    try {
      val loc = Files.createTempDirectory("graft_morshard").toString + "/t"
      Tables.t(spark, "/root/testdata/sf0.001", "orders")
        .repartition(24).write.mode("overwrite").parquet(loc)
      val all = keys(loc)
      val mdir = new File(MorDelete.manifestDir(loc))
      def shards(): Set[String] = Option(mdir.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("shard-")).toSet
      def newestBody(): Seq[String] = {
        val newest = Option(mdir.listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("m-"))
          .maxBy(_.getName.split("-")(1).toLong)
        Files.readAllLines(newest.toPath).toArray.toSeq.map(_.toString)
      }

      MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
      assert(shards().nonEmpty, "a table past manifestFlatMax must shard its manifest body")
      assert(newestBody().exists(_.startsWith("S ")), "the commit file must be a shard LIST")
      assert(!newestBody().exists(_.startsWith("D ")), "no inline data entries once sharded")
      val s1 = shards()

      // a tombstone-only commit leaves the data-file set unchanged:
      // content addressing must resolve EVERY group to an existing shard
      // file — zero shard writes, only the list commits
      MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 4, Seq("o_orderkey"))
      assert(shards() == s1,
        "a commit that leaves the file set unchanged must write no shard files")
      val afterDeletes = all.filterNot(k => k % 10 == 3 || k % 10 == 4)
      assert(keys(loc) == afterDeletes, "sharded reads must equal the flat-manifest semantics")

      // snapshots resolve through sharded bodies exactly as through flat
      // ones, including across a compaction (retained files)
      val snapPre = MorDelete.currentSeq(spark, loc)
      MorDelete.compact(spark, loc)
      assert(keys(loc) == afterDeletes, "compaction under sharding keeps the live view")
      assert(MorDelete.readAt(spark, loc, snapPre).select("o_orderkey")
        .collect().map(_.getLong(0)).toSet == afterDeletes,
        "a pre-compaction snapshot must survive under sharded manifests")

      // an unreferenced shard (the crash shape: staged content whose list
      // never committed) is invisible to readers and reclaimed by vacuum,
      // while every referenced shard survives
      Files.writeString(new File(mdir, "shard-0rphan").toPath, "D no-such.parquet")
      assert(keys(loc) == afterDeletes, "an orphan shard must be invisible")
      Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
      assert(!shards().contains("shard-0rphan"), "vacuum must reclaim orphan shards")
      val referenced = newestBody().collect { case l if l.startsWith("S ") => l.drop(2) }.toSet
      assert(shards() == referenced,
        "after vacuum exactly the newest list's shards remain")
      assert(keys(loc) == afterDeletes, "vacuum must not change the live view")
    } finally {
      MorDelete.manifestFlatMax = fm
      MorDelete.manifestShardTarget = tg
    }
  }

  test("analyze publishes per-file stats; readWhere prunes by them and stays row-identical") {
    // key-clustered layout: each of the 6 files covers one o_orderkey range,
    // so a selective band must prune most of them
    val loc = Files.createTempDirectory("graft_morstats").toString + "/t"
    val orders = Tables.t(spark, "/root/testdata/sf0.001", "orders")
    orders.repartitionByRange(6, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.mode("overwrite").parquet(loc)
    val all = keys(loc)

    // cuts all inside the FIRST file's key range, so later DML stays
    // clustered there and files 2–6 keep their stats through compaction
    val sorted = all.toSeq.sorted
    val c1 = sorted(all.size / 12)
    val c2 = sorted(all.size / 9)
    val c3 = sorted(all.size / 7)

    MorDelete.delete(spark, loc, col("o_orderkey") <= c1, Seq("o_orderkey"))
    val n = Maintenance.analyze(spark, loc)
    assert(n == 6L, "every file must publish stats")
    val st = MorDelete.liveState(spark, loc)
    assert(st.stats.size == 6 &&
      st.stats.values.forall(_.exists(_.col == "o_orderkey")),
      "the manifest must carry o_orderkey bounds for every file")

    def expect(pred: org.apache.spark.sql.Column): Unit = {
      val got = MorDelete.readWhere(spark, loc, pred)
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      val want = MorDelete.read(spark, loc).filter(pred)
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      assert(got == want, s"readWhere must equal read().filter for $pred")
    }
    val band = col("o_orderkey") <= c2
    assert(MorDelete.pruneByStats(spark, st, band).size < 6,
      "a band inside one key range must prune files")
    expect(band)
    expect(col("o_orderkey") === c2) // equality
    expect(lit(c2) >= col("o_orderkey")) // literal-first spelling
    expect(col("o_orderkey").isin(sorted.take(3).map(_.asInstanceOf[Any]): _*))
    expect(band && col("o_orderpriority") === "1-URGENT") // mixed: string conjunct ignored
    expect(upper(col("o_orderpriority")) === "NO-SUCH") // unsupported only: no pruning
    assert(MorDelete.pruneByStats(spark, st,
      upper(col("o_orderpriority")) === "X").size == 6,
      "an evaluator-opaque predicate must keep every file")
    // a predicate outside every file's bounds scans zero files yet stays exact
    val beyond = col("o_orderkey") > all.max
    assert(MorDelete.pruneByStats(spark, st, beyond).isEmpty)
    assert(MorDelete.readWhere(spark, loc, beyond).count() == 0L)

    // stats carry through later DML; files appended to an ANALYZED table
    // publish WRITE-PATH stats in the same commit (the Delta write-time
    // discipline) — no stats-less window, the new bounds prune at once
    MorDelete.delete(spark, loc, col("o_orderkey") <= c2, Seq("o_orderkey"))
    val src = oneRowPerKey(MorDelete.read(spark, loc)
      .filter(col("o_orderkey") > c2 && col("o_orderkey") <= c3)
      .withColumn("o_totalprice", col("o_totalprice") + 1))
    graft.sources.MorUpsert.upsert(spark, loc, src, Seq("o_orderkey"))
    val st2 = MorDelete.liveState(spark, loc)
    val appended = st2.dataFiles.filterNot(st.stats.contains)
    assert(appended.nonEmpty, "the merge must have appended parts")
    assert(appended.forall(f => st2.stats.get(f).exists(_.nonEmpty)),
      "appended parts carry write-path stats in the committing manifest")
    assert(st2.stats.size == 6 + appended.size)
    // the appended keys live in (c2, c3], so their fresh bounds PRUNE
    // under the band (<= c2) — coverage is immediate, not next-analyze
    assert(MorDelete.pruneByStats(spark, st2, band).size ==
      MorDelete.pruneByStats(spark, st, band).size,
      "write-path bounds prune the out-of-band appended parts at once")
    expect(band)

    // coverage is already closed: a re-analyze computes NOTHING and
    // publishes no manifest (data files are immutable — a published
    // stat is permanently exact)
    val st2b = MorDelete.liveState(spark, loc)
    assert(st2b.dataFiles.forall(f => st2b.stats.get(f).exists(_.nonEmpty)))
    val preManifests = MorDelete.manifests(loc).size
    assert(Maintenance.analyze(spark, loc) == 0L)
    assert(MorDelete.manifests(loc).size == preManifests,
      "a fully-covered analyze must not commit a no-op manifest")

    // compaction keeps the untouched files' stats and publishes fresh
    // WRITE-PATH stats for its replacements in the same commit — full
    // coverage survives the rewrite; readWhere stays exact throughout.
    // All the doomed rows live in file 1's key range by construction.
    MorDelete.compact(spark, loc)
    val st3 = MorDelete.liveState(spark, loc)
    assert(st3.stats.keySet == st3.dataFiles.toSet,
      "post-compact coverage is full: untouched entries carried, " +
        "replacements write-path published")
    val replaced = st3.dataFiles.filterNot(st2b.stats.contains)
    assert(replaced.nonEmpty &&
      replaced.forall(f => st3.stats.get(f).exists(_.nonEmpty)))
    assert(Maintenance.analyze(spark, loc) == 0L,
      "nothing left for the incremental pass")
    expect(band)
    assert(keys(loc) == all.filter(_ > c2), "the view never changed")
  }

  test("null-count stats prune IS NULL / IS NOT NULL and all-null columns") {
    val loc = Files.createTempDirectory("graft_mornulls").toString + "/t"
    val sp = spark; import sp.implicits._
    // 6 range files on k; v is entirely NULL in the low-k files
    (1 to 600).map(i => (i.toLong, if (i <= 200) None else Some(i * 2.0)))
      .toDF("k", "v")
      .repartitionByRange(6, col("k")).sortWithinPartitions("k")
      .write.parquet(loc)
    assert(Maintenance.analyze(spark, loc, Seq("k", "v")) == 6L)
    val st = MorDelete.liveState(spark, loc)

    // expectations derive from the published counts themselves
    def vStat(f: String) = st.stats(f).find(_.col == "v").get
    val withNulls = st.dataFiles.filter(f => vStat(f).nulls > 0).toSet
    val allNull = st.dataFiles.filter(f => vStat(f).nulls == vStat(f).rows).toSet
    assert(allNull.nonEmpty && withNulls.size < 6 && allNull.subsetOf(withNulls))
    assert(st.stats.values.forall(_.forall(s => s.nulls >= 0 && s.rows > 0)),
      "every published entry must carry its null/row counts")

    // IS NULL keeps exactly the files with a null; IS NOT NULL drops the
    // all-null ones; both spellings (DSL and SQL text) must agree
    for (p <- Seq(col("v").isNull, expr("v IS NULL")))
      assert(MorDelete.pruneByStats(spark, st, p).toSet == withNulls, s"$p")
    for (p <- Seq(col("v").isNotNull, expr("v IS NOT NULL")))
      assert(MorDelete.pruneByStats(spark, st, p).toSet ==
        st.dataFiles.toSet -- allNull, s"$p")
    // a range comparison can never match an all-null column: those files
    // prune even though their NaN bounds say nothing
    assert((MorDelete.pruneByStats(spark, st, col("v") > 0).toSet & allNull).isEmpty)
    assert((MorDelete.pruneByStats(spark, st,
      col("v").isin(2.0, 4.0)).toSet & allNull).isEmpty)

    // the conservative contract holds through the pruned read
    for (p <- Seq(col("v").isNull, col("v").isNotNull, col("v") > 800))
      assert(MorDelete.readWhere(spark, loc, p).count() ==
        MorDelete.read(spark, loc).filter(p).count(), s"$p")
    // pre-null-count entries (the 4-part encoding) keep every file for
    // null leaves — unpublished counts never prune
    val legacy = st.copy(stats = st.stats.map { case (f, cs) =>
      f -> cs.map(_.copy(nulls = -1L, rows = -1L)) })
    assert(MorDelete.pruneByStats(spark, legacy, col("v").isNull).size == 6)
    assert(MorDelete.pruneByStats(spark, legacy, col("v").isNotNull).size == 6)

    // a null-CREATING cast must never ride the null leaves: TRY_CAST(v AS
    // DECIMAL(3,2)) yields NULL on overflow, so IsNull over it matches
    // rows in null-free files — the evaluator must keep them all (the
    // range leaves' cast unwrap is NOT sound for null-presence)
    val castNull = expr("try_cast(v AS decimal(3,2)) IS NULL")
    assert(MorDelete.pruneByStats(spark, st, castNull).size == 6,
      "IS NULL under a numeric cast must not prune on the column's counts")
    assert(MorDelete.readWhere(spark, loc, castNull).count() ==
      MorDelete.read(spark, loc).filter(castNull).count())
    assert(MorDelete.read(spark, loc).filter(castNull).count() > 200,
      "the cast genuinely creates nulls beyond the physical ones here")
  }

  test("a NARROWING cast never prunes; a widening cast still does (both entry points)") {
    // the r15 judge repro: CAST(x AS INT) = 3 matches every x in [3.0, 4.0),
    // but a file with bounds [3.2, 3.9] fails min <= 3 <= max — unwrapping
    // the truncating cast pruned the only file holding the 3 matching rows.
    // The unwrap is now gated on Cast.canUpCast (value-preserving only).
    val loc = Files.createTempDirectory("graft_morcast").toString + "/t"
    val sp = spark; import sp.implicits._
    Seq(3.2, 3.5, 3.9).toDF("x").coalesce(1).write.parquet(loc)
    Seq(10.0, 10.5, 11.0).toDF("x").coalesce(1).write.mode("append").parquet(loc)
    assert(Maintenance.analyze(spark, loc) == 2L)
    val st = MorDelete.liveState(spark, loc)
    assert(st.stats.size == 2)

    val narrowing = expr("CAST(x AS INT) = 3")
    // planning path (MorStatsFileIndex receives the RESOLVED cast):
    assert(MorDelete.read(spark, loc).filter(narrowing).count() == 3L,
      "a truncating double->int cast must not prune the [3.2, 3.9] file")
    // caller-predicate path:
    assert(MorDelete.readWhere(spark, loc, narrowing).count() == 3L)
    // the same class: overflow-wrapping and precision-losing narrowings
    // (10.0 and 10.5 truncate to 10; 11.0 does not)
    assert(MorDelete.read(spark, loc)
      .filter(expr("CAST(x AS TINYINT) = 10")).count() == 2L)
    assert(MorDelete.pruneByStats(spark, st, narrowing).size == 2,
      "the compiled evaluator must treat a narrowing cast as opaque")

    // a RESOLVED narrowing cast (what FileSourceStrategy pushes) is opaque
    // while the equivalent widening cast over the published bounds prunes
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.types._
    val xAttr = ce.AttributeReference("x", DoubleType)()
    val narrowResolved = ce.EqualTo(ce.Cast(xAttr, IntegerType), ce.Literal(3))
    assert(MorDelete.statsPredOf(narrowResolved).isEmpty,
      "resolved double->int cast compiles to no pruning rule")
    val fltAttr = ce.AttributeReference("x", FloatType)()
    val widenResolved = ce.EqualTo(ce.Cast(fltAttr, DoubleType), ce.Literal(3.5d))
    val wp = MorDelete.statsPredOf(widenResolved)
    assert(wp.isDefined, "a value-preserving upcast must still compile")
    val lo = st.dataFiles.map(f => f -> st.stats(f)).minBy(_._2.head.min)._2
    val hi = st.dataFiles.map(f => f -> st.stats(f)).maxBy(_._2.head.min)._2
    assert(wp.get(lo) && !wp.get(hi),
      "the widening rule keeps [3.2, 3.9] (3.5 inside) and prunes [10, 11]")

    // a widening cast through the FULL read path (resolved by the planner,
    // pruned by the FileIndex): an int-keyed table, CAST(k AS BIGINT)
    val loc2 = Files.createTempDirectory("graft_morcastw").toString + "/t"
    Seq(1, 2, 3).toDF("k").coalesce(1).write.parquet(loc2)
    Seq(100, 101, 102).toDF("k").coalesce(1).write.mode("append").parquet(loc2)
    assert(Maintenance.analyze(spark, loc2) == 2L)
    val widening = expr("CAST(k AS BIGINT) > 50")
    assert(MorDelete.read(spark, loc2).filter(widening).count() == 3L)
    assert(MorDelete.readWhere(spark, loc2, widening).count() == 3L)
    val st2 = MorDelete.liveState(spark, loc2)
    val wr = MorDelete.statsPredOf(ce.GreaterThan(
      ce.Cast(ce.AttributeReference("k", IntegerType)(), LongType), ce.Literal(50L)))
    assert(wr.isDefined && st2.dataFiles.count(f => wr.get(st2.stats(f))) == 1,
      "the int->bigint upcast must prune the low file")
  }

  test("a kv-named BASE directory is never misread as a partition value") {
    // self-review catch: the partition-segment walk must stop at the
    // live files' common ancestor — a table ROOTED at /…/v=2 with a
    // data column v would otherwise synthesize v∈[2,2] bounds from its
    // own base name and silently prune every file for v <> 2
    val root = Files.createTempDirectory("graft_morkvbase").toString
    val loc = s"$root/v=2"
    val sp = spark; import sp.implicits._
    Seq((1L, 5.0), (2L, 7.0)).toDF("k", "v").coalesce(1).write.parquet(loc)
    Seq((3L, 9.0)).toDF("k", "v").coalesce(1).write.mode("append").parquet(loc)
    MorDelete.delete(spark, loc, col("k") === -1, Seq("k"))
    val st = MorDelete.liveState(spark, loc)
    assert(MorDelete.pruneByStats(spark, st, col("v") === 5.0).size ==
      st.dataFiles.size, "the base dir's name must contribute no bounds")
    assert(MorDelete.readWhere(spark, loc, col("v") === 5.0).count() == 1L)
    assert(MorDelete.read(spark, loc).filter(col("v") === 9.0).count() == 1L)
    // the conservative price: a table whose files all sit in ONE real
    // partition cannot distinguish that dir from a kv base either — it
    // keeps everything (sound) rather than pruning on the ambiguous name
    val loc2 = Files.createTempDirectory("graft_morkvone").toString + "/t"
    Seq((1L, 1.0)).toDF("k", "x").write.parquet(s"$loc2/m=3")
    MorDelete.delete(spark, loc2, col("k") === -1, Seq("k"))
    val st2 = MorDelete.liveState(spark, loc2)
    assert(MorDelete.pruneByStats(spark, st2, col("m") === 9).size ==
      st2.dataFiles.size)
  }

  test("string bounds round-trip the manifest and prune in UTF8 binary order") {
    val loc = Files.createTempDirectory("graft_morstr").toString + "/t"
    val sp = spark; import sp.implicits._
    // three clustered files; file C holds the UTF8-vs-UTF16 ordering
    // trap: U+FF01 (UTF-16 0xFF01) sorts ABOVE U+1F600 in Java String
    // order but BELOW it in UTF-8 byte order (EF BC 81 < F0 9F 98 80) —
    // the published bounds come from Spark's min/max (binary order), so
    // a UTF-16 evaluator would wrongly prune the emoji probe
    val emoji = new String(Character.toChars(0x1F600)) + "y"
    val fullwidth = "！x"
    Seq("apple", "apricot", "banana").toDF("s").coalesce(1).write.parquet(loc)
    Seq("mango", "melon", "peach").toDF("s").coalesce(1)
      .write.mode("append").parquet(loc)
    Seq(fullwidth, emoji).toDF("s").coalesce(1).write.mode("append").parquet(loc)
    assert(Maintenance.analyze(spark, loc, Seq("s")) == 3L)
    val st = MorDelete.liveState(spark, loc)
    assert(st.stats.values.forall(_.forall(s =>
      s.domain == "s" && s.smin.isDefined && s.smax.isDefined)),
      "every file publishes string bounds")
    // the bounds survived the base64 manifest round-trip byte-exactly
    assert(st.stats.values.flatten.exists(_.smax.contains(emoji)))

    def kept(p: org.apache.spark.sql.Column) = MorDelete.pruneByStats(spark, st, p)
    assert(kept(col("s") === "mango").size == 1)
    assert(kept(col("s") === "coconut").isEmpty, "between-file gap prunes all")
    assert(kept(col("s") >= "melon").size == 2, "range keeps file B and the unicode file")
    assert(kept(col("s").isin("apple", "peach")).size == 2)
    assert(kept(col("s") === emoji).size == 1,
      "binary order must keep the unicode file for the emoji probe")
    // prefix shapes: LIKE 'p%' and startsWith are the byte range
    // [p, inc(p)) — 'ap%' keeps only file A, 'm%' only file B, a
    // wildcard-free LIKE is equality, '_'/interior-% stay opaque
    assert(kept(col("s").like("ap%")).size == 1)
    assert(kept(col("s").startsWith("m")).size == 1)
    assert(kept(col("s").like("mango")).size == 1, "wildcard-free LIKE = equality")
    assert(kept(col("s").like("z%")).isEmpty,
      "'z%' fits no file: A/B max below 'z', the unicode file's min above '{'")
    assert(kept(col("s").like("a_ple")).size == 3, "'_' patterns stay opaque")
    assert(kept(col("s").like("%go")).size == 3, "suffix patterns stay opaque")
    // the emoji-prefix probe: inc() works on BYTES — a char-level upper
    // bound (prefix + ￿) would wrongly prune the 4-byte-UTF8 file
    assert(kept(col("s").startsWith(new String(Character.toChars(0x1F600)))).size == 1)
    // exactness through every path, including the FileIndex default read
    for (p <- Seq(col("s") === "mango", col("s") >= "melon",
        col("s") === emoji, col("s").isin("apple", "peach", emoji))) {
      val oracle = MorDelete.readIgnoringStats(spark, loc).filter(p)
        .collect().map(_.getString(0)).sorted.toSeq
      assert(MorDelete.readWhere(spark, loc, p)
        .collect().map(_.getString(0)).sorted.toSeq == oracle, s"readWhere: $p")
      assert(MorDelete.read(spark, loc).filter(p)
        .collect().map(_.getString(0)).sorted.toSeq == oracle, s"read: $p")
    }
    // values past the 64-char cap publish TRUNCATED-conservative bounds
    // (r17): prefix min, bumped-code-point max — a literal clearly above
    // the bumped max prunes, one inside the widened window keeps, and
    // IS NULL pruning still rides the counts
    val loc2 = Files.createTempDirectory("graft_morstr2").toString + "/t"
    Seq("x" * 80, "y" * 80).toDF("s").coalesce(1).write.parquet(loc2)
    assert(Maintenance.analyze(spark, loc2, Seq("s")) == 1L)
    val st2 = MorDelete.liveState(spark, loc2)
    assert(st2.stats.values.forall(_.forall(s =>
      s.smin.contains("x" * 64) && s.smax.contains("y" * 63 + "z") &&
        s.nulls == 0L && s.rows == 2L)))
    assert(MorDelete.pruneByStats(spark, st2, col("s") === "zzz").isEmpty,
      "a literal above the bumped max prunes off the truncated bound")
    assert(MorDelete.pruneByStats(spark, st2, col("s") === "x" * 70).size == 1,
      "a literal inside the conservative window keeps the file")
    assert(MorDelete.pruneByStats(spark, st2, col("s") === "w").isEmpty,
      "a literal below the prefix min prunes")
    assert(MorDelete.pruneByStats(spark, st2, col("s").isNull).isEmpty,
      "counts still prune IS NULL")
  }

  test("partitioned MoR: partition values prune the listing; every read path stays exact") {
    val loc = Files.createTempDirectory("graft_morpart").toString + "/t"
    val sp = spark; import sp.implicits._
    (1 to 300).map(i => (i.toLong, (i % 5).toLong, i * 1.0)).toDF("k", "m", "x")
      .repartition(2).write.partitionBy("m").parquet(loc)
    MorDelete.delete(spark, loc, col("k") % 7 === 0, Seq("k"))
    assert(Maintenance.analyze(spark, loc, Seq("x")) > 0L)
    val st = MorDelete.liveState(spark, loc)

    // the partition VALUE is an exact bound — a partition predicate
    // prunes the manifest's file list driver-side, analyze or not
    val kept = MorDelete.pruneByStats(spark, st, col("m") === 2)
    assert(kept.nonEmpty && kept.size < st.dataFiles.size)
    assert(kept.forall(_.contains("m=2")), kept.mkString("\n"))
    // no partition is null here: IS NULL on the partition column prunes all
    assert(MorDelete.pruneByStats(spark, st, col("m").isNull).isEmpty)
    // partition + data-column bounds compose
    val pred = col("m").isin(1L, 2L) && col("x") <= 200
    assert(MorDelete.pruneByStats(spark, st, pred).size <= kept.size * 2)

    // all three read paths agree (the stats-free resolve is the oracle)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("k", "CAST(m AS BIGINT) AS m", "x")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val oracle = rows(MorDelete.readIgnoringStats(spark, loc).filter(pred))
    assert(oracle.nonEmpty)
    assert(rows(MorDelete.readWhere(spark, loc, pred)) == oracle)
    assert(rows(MorDelete.read(spark, loc).filter(pred)) == oracle)

    // the DEFAULT read path rides MorStatsFileIndex with a declared
    // partition schema: Spark's planner pushes the partition predicate
    // into the listing (visible on the scan node), and the scan touches
    // only the matching directories' files
    val df = MorDelete.read(spark, loc).filter(col("m") === 2 && col("x") > 0)
    df.collect() // execute so AQE finalizes and scan metrics populate
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case q: QueryStageExec => findScans(q.plan)
      case o => o.children.flatMap(findScans)
    }
    val scan = findScans(df.queryExecution.executedPlan)
      .find(_.partitionFilters.nonEmpty)
      .getOrElse(fail("expected a partition-filtered scan under the resolved read"))
    assert(scan.metrics("numFiles").value == kept.size.toLong,
      "the scan must read exactly the m=2 files")

    // STRING partition values: the FileIndex binds them natively, the
    // driver evaluator stays conservative (no numeric bound, only
    // null-presence) — both exact
    val loc2 = Files.createTempDirectory("graft_morpart2").toString + "/t"
    (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "EU" else "US", i * 1.0))
      .toDF("k", "r", "x").repartition(2).write.partitionBy("r").parquet(loc2)
    MorDelete.delete(spark, loc2, col("k") % 9 === 0, Seq("k"))
    Maintenance.analyze(spark, loc2, Seq("x"))
    val p2 = col("r") === "EU" && col("x") <= 60
    val st2 = MorDelete.liveState(spark, loc2)
    assert(MorDelete.pruneByStats(spark, st2, col("r").isNull).isEmpty,
      "a present string partition value still answers IS NULL")
    def rows2(df: org.apache.spark.sql.DataFrame) = df.select("k", "x")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val o2 = rows2(MorDelete.readIgnoringStats(spark, loc2).filter(p2))
    assert(o2.nonEmpty)
    assert(rows2(MorDelete.readWhere(spark, loc2, p2)) == o2)
    assert(rows2(MorDelete.read(spark, loc2).filter(p2)) == o2)
  }

  test("history classify is NaN-tolerant and zero-row files stop retriggering analyze") {
    val loc = Files.createTempDirectory("graft_mornan").toString + "/t"
    val sp = spark; import sp.implicits._
    // an all-null column publishes NaN bounds; a ZERO-ROW part file
    // publishes nothing at all unless analyze backfills it
    Seq((1L, Option.empty[Double]), (2L, None), (3L, None)).toDF("k", "v")
      .coalesce(1).write.parquet(loc)
    Seq((1L, Option(1.0))).toDF("k", "v").filter(lit(false))
      .coalesce(1).write.mode("append").parquet(loc)
    MorDelete.delete(spark, loc, col("k") === -999, Seq("k")) // enter MoR mode
    val nFiles = MorDelete.liveState(spark, loc).dataFiles.size
    assert(Maintenance.analyze(spark, loc, Seq("k", "v")) == nFiles.toLong,
      "the empty part must count as computed, not stay stats-less")
    val st = MorDelete.liveState(spark, loc)
    assert(st.stats.size == nFiles, "every file, including the empty one, has stats")
    assert(st.stats.values.exists(_.exists(s => s.min.isNaN && s.rows > 0)),
      "the all-null column carries NaN bounds")
    assert(st.stats.values.exists(_.forall(s => s.rows == 0L && s.nulls == 0L)),
      "the zero-row file carries rows=0 entries")
    // incremental coverage is closed: a re-analyze computes nothing and
    // publishes no manifest (before the fix the empty file re-triggered
    // the pass forever)
    val ords = MorDelete.manifests(loc).size
    assert(Maintenance.analyze(spark, loc) == 0L)
    assert(MorDelete.manifests(loc).size == ords)
    // rows==nulls==0 satisfies the all-null rule: comparisons prune it
    assert(MorDelete.pruneByStats(spark, st, col("v") > 0).isEmpty)
    assert(MorDelete.pruneByStats(spark, st, col("k") <= 3).size == nFiles - 1)

    // NaN-bound stats maps must compare EQUAL across commits: a same-seq,
    // stats-preserving commit (a txn marker) is a COMMIT, not an ANALYZE
    // (IEEE NaN != NaN made structurally identical maps unequal in r15)
    MorDelete.publishManifest(loc, MorDelete.currentSeq(spark, loc),
      st.copy(txns = st.txns + ("probe" -> 1L)))
    val top = MorDelete.history(spark, loc)
      .orderBy(desc("ordinal")).select("operation").head.getString(0)
    assert(top == "COMMIT", s"stats-preserving commit mislabeled: $top")
  }

  test("a fully-emptied, schema-declared table still reads (and applies tombstones)") {
    val loc = Files.createTempDirectory("graft_morempty").toString + "/t"
    val sp = spark; import sp.implicits._
    (1 to 40).map(i => (i.toLong, i * 2.0)).toDF("k", "v")
      .repartition(2).write.parquet(loc)
    // declare a schema in the manifest and a LIVE tombstone batch, then
    // publish the zero-data-files state (what a compaction of a fully
    // tombstoned table converges to) — the LocalRelation branch must
    // serve it with the batch applied, not throw resolving _metadata
    graft.sources.Evolution.renameColumn(spark, loc, "v", "value")
    MorDelete.deleteKeys(spark, loc, Seq(999L).toDF("k"), Seq("k"))
    val st = MorDelete.liveState(spark, loc)
    assert(st.schema.nonEmpty && st.batches.nonEmpty)
    MorDelete.publishManifest(loc, MorDelete.currentSeq(spark, loc),
      st.copy(dataFiles = Nil))
    val r = MorDelete.read(spark, loc)
    assert(r.columns.toSeq == Seq("k", "value") && r.count() == 0L,
      "the empty schema-declared view must read, not throw on _metadata")
  }

  test("restore rolls the live view back as a NEW commit; pinned snapshots are never hijacked") {
    val loc = freshTable()
    val all = keys(loc)
    def readAtKeys(seq: Long): Set[Long] =
      MorDelete.readAt(spark, loc, seq).select("o_orderkey")
        .collect().map(_.getLong(0)).toSet
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    val v1 = MorDelete.currentSeq(spark, loc)
    val view1 = all.filterNot(_ % 10 == 3)
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 4, Seq("o_orderkey"))
    val v2 = MorDelete.currentSeq(spark, loc)
    val view2 = view1.filterNot(_ % 10 == 4)

    val v3 = MorDelete.restore(spark, loc, v1)
    assert(v3 > v2, "a restore is a NEW version, never a re-publication of an old sequence")
    assert(keys(loc) == view1, "the live view is the restored snapshot")
    assert(readAtKeys(v2) == view2,
      "a snapshot pinned before the restore keeps exactly what it pinned")
    assert(readAtKeys(v1) == view1)

    // history lists every retained version, newest first, with the
    // published state's cardinalities
    val h = MorDelete.history(spark, loc).collect()
    assert(h.map(_.getLong(1)).toSeq == h.map(_.getLong(1)).toSeq.sorted.reverse,
      "history is ordinal-descending")
    val versions = h.map(_.getLong(0)).toSet
    assert(Seq(v1, v2, v3).forall(versions.contains))
    assert(h.head.getLong(0) == v3 && h.head.getLong(4) > 0,
      "the newest row is the restore commit, carrying the restored batches")
    // the operation column classifies each commit off its state delta
    assert(h.head.getAs[String]("operation") == "RESTORE")
    assert(h.map(_.getAs[String]("operation")).contains("DELETE"))
    assert(h.last.getAs[String]("operation") == "GENESIS")

    // later DML supersedes the restored view like any other commit
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 5, Seq("o_orderkey"))
    assert(keys(loc) == view1.filterNot(_ % 10 == 5))
    // a vacuum-expired target refuses loudly
    Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
    val e = intercept[IllegalStateException](MorDelete.restore(spark, loc, v1))
    assert(e.getMessage.contains("no retained snapshot"))
    assert(keys(loc) == view1.filterNot(_ % 10 == 5),
      "a refused restore changes nothing")
  }

  test("the evaluator judges full boolean trees: an OR of bands prunes, opaque disjuncts keep") {
    val loc = Files.createTempDirectory("graft_morbool").toString + "/t"
    Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .repartitionByRange(6, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.mode("overwrite").parquet(loc)
    val all = keys(loc)
    val sorted = all.toSeq.sorted
    val (cLow, cHigh) = (sorted(all.size / 12), sorted(all.size * 11 / 12))
    MorDelete.delete(spark, loc, col("o_orderkey") % 100 === 7, Seq("o_orderkey"))
    Maintenance.analyze(spark, loc)
    val st = MorDelete.liveState(spark, loc)

    def expectEq(pred: org.apache.spark.sql.Column): Unit = {
      val got = MorDelete.readWhere(spark, loc, pred)
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      val want = MorDelete.read(spark, loc).filter(pred)
        .select("o_orderkey").collect().map(_.getLong(0)).toSet
      assert(got == want, s"readWhere must equal read().filter for $pred")
    }
    // a disjunction of two edge bands keeps only the edge files — the
    // multi-year / multi-range shape a flat conjunct evaluator loses
    val orBand = col("o_orderkey") <= cLow || col("o_orderkey") >= cHigh
    val keptOr = MorDelete.pruneByStats(spark, st, orBand).size
    assert(keptOr < 6 && keptOr >= 2, s"an OR of edge bands must prune the middle: $keptOr")
    expectEq(orBand)
    // one opaque disjunct poisons the whole OR (it could match anywhere)…
    val poisoned = col("o_orderkey") <= cLow ||
      upper(col("o_orderpriority")) === "NO-SUCH"
    assert(MorDelete.pruneByStats(spark, st, poisoned).size == 6,
      "an opaque disjunct must keep every file")
    expectEq(poisoned)
    // …while an opaque AND-sibling still lets the provable branch prune
    val anded = orBand && upper(col("o_orderpriority")).isNotNull
    assert(MorDelete.pruneByStats(spark, st, anded).size == keptOr,
      "an opaque conjunct must not widen the provable branches' pruning")
    expectEq(anded)
    // the resolved planning path prunes the same OR from SQL text
    assert(statsScanFiles(MorDelete.read(spark, loc).filter(
      expr(s"o_orderkey <= $cLow OR o_orderkey >= $cHigh"))) < 6L,
      "the scan itself must prune a disjunctive SQL band")
  }

  test("date and timestamp columns analyze and prune in Catalyst's literal encodings") {
    // lineitem clustered by ship date: the TPC-H q6 shape — a date band
    // over a date-sorted table is THE pruning case analytic tables live on
    val loc = Files.createTempDirectory("graft_mordate").toString + "/t"
    Tables.t(spark, "/root/testdata/sf0.001", "lineitem")
      .repartitionByRange(5, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate").write.mode("overwrite").parquet(loc)
    MorDelete.delete(spark, loc, col("l_orderkey") % 50 === 7,
      Seq("l_orderkey", "l_linenumber"))
    assert(Maintenance.analyze(spark, loc, Seq("l_shipdate")) == 5L)
    val st = MorDelete.liveState(spark, loc)

    def rows(df: org.apache.spark.sql.DataFrame): Long = df.count()
    def expectEq(pred: org.apache.spark.sql.Column): Unit =
      assert(rows(MorDelete.readWhere(spark, loc, pred)) ==
        rows(MorDelete.read(spark, loc).filter(pred)), s"mismatch for $pred")
    // l_shipdate reads as timestamp_ntz (the driver parquet's physical
    // type), so its stats live in the zone-free µs domain: a
    // domain-matched NTZ literal prunes on the driver-side path…
    val ntzBand = col("l_shipdate") <=
      lit(java.time.LocalDateTime.parse("1993-06-01T00:00:00"))
    assert(MorDelete.pruneByStats(spark, st, ntzBand).size < 5,
      "a ship-date band over a date-sorted table must prune files")
    expectEq(ntzBand)
    // …a DATE literal is another domain: the unresolved evaluator must
    // NOT judge day values against µs bounds (keeps all 5, stays exact)…
    val dateBand = col("l_shipdate") <= lit(java.sql.Date.valueOf("1993-06-01"))
    assert(MorDelete.pruneByStats(spark, st, dateBand).size == 5,
      "a cross-domain literal must never prune")
    expectEq(dateBand)
    // …while the RESOLVED planning path folds the coercion cast onto the
    // literal, so the SQL-text spellings prune at the scan itself
    Seq("l_shipdate <= DATE '1993-06-01'", "l_shipdate <= '1993-06-01'")
      .foreach { sql =>
        assert(statsScanFiles(MorDelete.read(spark, loc).filter(expr(sql))) < 5L,
          s"the resolved scan must prune for: $sql")
      }
    // a band OUTSIDE the data scans zero files yet stays exact
    val none = col("l_shipdate") <
      lit(java.time.LocalDateTime.parse("1971-01-01T00:00:00"))
    assert(MorDelete.pruneByStats(spark, st, none).isEmpty)
    assert(rows(MorDelete.readWhere(spark, loc, none)) == 0L)

    // off-UTC sessions: the DEFAULT column set silently skips NTZ columns
    // (their domain cannot be computed there), while an EXPLICIT request
    // refuses loudly instead of publishing zone-shifted bounds
    val zone = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val zloc = Files.createTempDirectory("graft_morzone").toString + "/t"
      Tables.t(spark, "/root/testdata/sf0.001", "orders")
        .repartition(2).write.mode("overwrite").parquet(zloc)
      MorDelete.delete(spark, zloc, col("o_orderkey") % 100 === 7, Seq("o_orderkey"))
      assert(Maintenance.analyze(spark, zloc) > 0L,
        "a default analyze off-UTC must succeed by skipping NTZ columns")
      assert(!MorDelete.liveState(spark, zloc).statCols
        .exists(_.equalsIgnoreCase("o_orderdate")),
        "the NTZ column must be excluded from the default set off-UTC")
      val e = intercept[IllegalArgumentException] {
        Maintenance.analyze(spark, zloc, Seq("o_orderdate"))
      }
      assert(e.getMessage.contains("UTC"))
    } finally spark.conf.set("spark.sql.session.timeZone", zone)

    // timestamp columns: events.ts clustered by time, analyzed in µs
    val tloc = Files.createTempDirectory("graft_morts").toString + "/t"
    val ev = Tables.t(spark, "/root/testdata/sf0.001", "events")
    ev.repartitionByRange(4, col("ts"))
      .sortWithinPartitions("ts").write.mode("overwrite").parquet(tloc)
    MorDelete.delete(spark, tloc, col("event_id") % 50 === 7, Seq("event_id"))
    assert(Maintenance.analyze(spark, tloc, Seq("ts")) == 4L)
    val tst = MorDelete.liveState(spark, tloc)
    val cutTs = ev.selectExpr("CAST(percentile_approx(ts, 0.2) AS TIMESTAMP)")
      .head().getTimestamp(0)
    val tband = col("ts") <= lit(cutTs)
    assert(MorDelete.pruneByStats(spark, tst, tband).size < 4,
      "an event-time band over a time-sorted table must prune files")
    assert(rows(MorDelete.readWhere(spark, tloc, tband)) ==
      rows(MorDelete.read(spark, tloc).filter(tband)))
  }

  /** Sum of the stats-backed base scans' executed numFiles metric — the
    * file count Spark's OWN planning listed after manifest-stats pruning
    * (fails if the read did not ride [[MorStatsFileIndex]] at all). */
  private def statsScanFiles(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    df.collect() // metrics populate on execution
    val ss = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.getClass.getSimpleName == "MorStatsFileIndex")
    assert(ss.nonEmpty, "the resolved read must ride the stats-backed FileIndex")
    ss.map(_.metrics("numFiles").value).sum
  }

  test("stats pruning engages inside Spark's planning: the scan itself lists fewer files") {
    val loc = Files.createTempDirectory("graft_morplan").toString + "/t"
    Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .repartitionByRange(6, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey").write.mode("overwrite").parquet(loc)
    val all = keys(loc)
    val sorted = all.toSeq.sorted
    val c1 = sorted(all.size / 12)
    val c2 = sorted(all.size / 9)
    MorDelete.delete(spark, loc, col("o_orderkey") <= c1, Seq("o_orderkey"))
    Maintenance.analyze(spark, loc)

    // the snapshot read rides the stats-backed FileIndex, and a plain
    // WHERE above the resolved view — no readWhere, no caller opt-in —
    // prunes the scan's own file list at planning time
    assert(statsScanFiles(MorDelete.read(spark, loc)) == 6L,
      "an unfiltered read lists every live file")
    val band = MorDelete.read(spark, loc).filter(col("o_orderkey") <= c2)
    assert(band.select("o_orderkey").collect().map(_.getLong(0)).toSet ==
      all.filter(k => k > c1 && k <= c2), "the pruned read stays exact")
    assert(statsScanFiles(band) < 6L,
      "a selective band must list fewer files at the scan itself")
    // an opaque predicate keeps every file — conservative by construction
    assert(statsScanFiles(MorDelete.read(spark, loc)
      .filter(upper(col("o_orderpriority")) === "NO-SUCH")) == 6L)
  }

  test("zorderRewrite re-clusters in place through the manifest protocol") {
    val loc = freshTable()
    val all = keys(loc)
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    val live = all.filterNot(_ % 10 == 3)
    Maintenance.analyze(spark, loc)
    val preFiles = MorDelete.liveState(spark, loc).dataFiles.toSet
    val snap = MorDelete.currentSeq(spark, loc)

    // pin 4 output files: the DEFAULT is size-targeted (~128 MB/file) and
    // would bin-pack this tiny table into one, asserted at the end
    graft.sources.Layout.zorderRewrite(spark, loc, Seq("o_orderkey", "o_custkey"),
      nFiles = 4)
    val st = MorDelete.liveState(spark, loc)
    assert(keys(loc) == live, "the resolved view is layout-invariant")
    assert(st.batches.isEmpty, "the rewrite folds every tombstone")
    assert(st.dataFiles.toSet.intersect(preFiles).isEmpty,
      "the rewrite publishes a whole new file set")
    assert(st.dataFiles.forall(f => st.stats.get(f).exists(_.nonEmpty)),
      "the rewrite publishes write-path stats for the new layout")
    assert(preFiles.forall(f => new File(f).exists()),
      "replaced files are retained for older manifests until vacuum")
    assert(MorDelete.readAt(spark, loc, snap).select("o_orderkey")
      .collect().map(_.getLong(0)).toSet == live,
      "a snapshot captured before the rewrite still resolves (view-identical)")

    // fresh stats over the new layout restore pruning on BOTH curve columns
    Maintenance.analyze(spark, loc, Seq("o_orderkey", "o_custkey"))
    val st2 = MorDelete.liveState(spark, loc)
    val cut = live.toSeq.sorted.apply(live.size / 20)
    assert(MorDelete.pruneByStats(spark, st2, col("o_orderkey") <= cut).size
      < st2.dataFiles.size, "the re-clustered layout must prune key bands")

    Maintenance.vacuum(loc, retentionMs = 0, stageGraceMs = 0)
    assert(preFiles.forall(f => !new File(f).exists()),
      "vacuum reclaims the replaced layout")
    assert(keys(loc) == live, "the view survives the vacuum")

    // the size-targeted default bin-packs a small-files table (the other
    // half of OPTIMIZE): this tiny table fits one 128 MB-target file
    graft.sources.Layout.zorderRewrite(spark, loc, Seq("o_orderkey", "o_custkey"))
    assert(MorDelete.liveState(spark, loc).dataFiles.size == 1,
      "the default output count is size-targeted, not count-preserving")
    assert(keys(loc) == live, "bin-packing never changes the view")

    // partition-directory layouts are refused loudly
    val ploc = Files.createTempDirectory("graft_zrw_part").toString + "/t"
    Tables.t(spark, "/root/testdata/sf0.001", "orders")
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(ploc)
    val e = intercept[IllegalArgumentException] {
      graft.sources.Layout.zorderRewrite(spark, ploc, Seq("o_orderkey"))
    }
    assert(e.getMessage.contains("partition"))
  }

  test("double- and timestamp-partitioned MoR: one inferred type on every read path, sound pruning") {
    // the r16-advice repros: Spark infers DOUBLE for x=1.5 and TIMESTAMP
    // for ts=2020-01-09 00:00:00, and coerces string literals in filters
    // to that type — a path-derived STRING bound would binary-compare
    // against the uncoerced spelling and prune matching files
    val sp = spark; import sp.implicits._
    val loc = Files.createTempDirectory("graft_morpart_dbl").toString + "/t"
    (1 to 120).map(i => (i.toLong, (i % 4) + 0.5, i * 10.0))
      .toDF("k", "x", "v").repartition(2).write.partitionBy("x").parquet(loc)
    MorDelete.delete(spark, loc, col("k") % 11 === 0, Seq("k"))
    Maintenance.analyze(spark, loc, Seq("v"))

    // dtype parity: the stats-indexed default read, the stats-free
    // oracle, and the plain Spark read all declare DOUBLE for x
    import org.apache.spark.sql.types.{DoubleType, TimestampType}
    assert(MorDelete.read(spark, loc).schema("x").dataType == DoubleType)
    assert(MorDelete.readIgnoringStats(spark, loc).schema("x").dataType == DoubleType)

    def ks(df: org.apache.spark.sql.DataFrame) =
      df.select("k").collect().map(_.getLong(0)).toSeq.sorted
    for (pred <- Seq(col("x") === "1.50", col("x") === 1.5, col("x") > "1.2",
        col("x") <= "2.5", col("x").isin("0.5", "3.5"), col("x").isNull)) {
      val oracle = ks(MorDelete.readIgnoringStats(spark, loc).filter(pred))
      assert(ks(MorDelete.readWhere(spark, loc, pred)) == oracle,
        s"readWhere diverged under $pred")
      assert(ks(MorDelete.read(spark, loc).filter(pred)) == oracle,
        s"read().filter diverged under $pred")
    }
    // the numeric bound still PRUNES (not just stays correct): a typed
    // equality on one partition value keeps only that directory's files.
    // The STRING spelling cannot prune on this unresolved path — the
    // coercion to double happens at analysis, which the driver-side
    // evaluator never sees — so it must conservatively keep everything
    // (the pre-fix behavior was to WRONGLY prune here).
    val st = MorDelete.liveState(spark, loc)
    val kept = MorDelete.pruneByStats(spark, st, col("x") === 1.5)
    assert(kept.nonEmpty && kept.size < st.dataFiles.size)
    assert(kept.forall(_.contains("x=1.5")), kept.mkString("\n"))
    assert(MorDelete.pruneByStats(spark, st, col("x") === "1.50").size
      == st.dataFiles.size, "an uncoerced string literal must not prune a double partition")

    // timestamp partitions: values carry escaped colons in the path; a
    // sloppy literal spelling ("2020-1-2") coerces to timestamp and must
    // compare in the µs domain, not as a string
    val loc2 = Files.createTempDirectory("graft_morpart_ts").toString + "/t"
    (1 to 90).map(i => (i.toLong,
        java.sql.Timestamp.valueOf(s"2020-01-0${(i % 3) * 4 + 1} 00:00:00")))
      .toDF("k", "ts").repartition(2).write.partitionBy("ts").parquet(loc2)
    MorDelete.delete(spark, loc2, col("k") % 13 === 0, Seq("k"))
    assert(MorDelete.read(spark, loc2).schema("ts").dataType == TimestampType)
    for (pred <- Seq(col("ts") > "2020-1-2", col("ts") === "2020-01-09 00:00:00",
        col("ts") <= lit(java.sql.Timestamp.valueOf("2020-01-05 00:00:00")))) {
      val oracle = ks(MorDelete.readIgnoringStats(spark, loc2).filter(pred))
      assert(oracle.nonEmpty, s"degenerate probe: $pred")
      assert(ks(MorDelete.readWhere(spark, loc2, pred)) == oracle,
        s"readWhere diverged under $pred")
      assert(ks(MorDelete.read(spark, loc2).filter(pred)) == oracle,
        s"read().filter diverged under $pred")
    }
    // the ADVICE repro verbatim: ts > '2020-1-2' must KEEP the
    // 2020-01-09 partition (the string-bound evaluator dropped it); on
    // this unresolved path the string spelling cannot prune at all
    val st2 = MorDelete.liveState(spark, loc2)
    val kept2 = MorDelete.pruneByStats(spark, st2, col("ts") > "2020-1-2")
    assert(kept2.exists(_.contains("2020-01-09")),
      s"ts=2020-01-09 partition wrongly pruned:\n${kept2.mkString("\n")}")
    assert(kept2.size == st2.dataFiles.size,
      "an uncoerced string literal must not prune a timestamp partition")
    // a TYPED timestamp literal prunes in the µs domain
    val kept2t = MorDelete.pruneByStats(spark, st2,
      col("ts") > lit(java.sql.Timestamp.valueOf("2020-01-02 00:00:00")))
    assert(kept2t.nonEmpty && kept2t.size < st2.dataFiles.size)
    assert(kept2t.forall(f => f.contains("2020-01-05") || f.contains("2020-01-09")),
      kept2t.mkString("\n"))

    // Spark-parsable-but-not-LocalDate dates ("2020-1-9") infer DATE:
    // bound rides the day domain, and both read paths agree on the type
    val loc3 = Files.createTempDirectory("graft_morpart_d").toString + "/t"
    (1 to 60).map(i => (i.toLong, s"2020-1-${(i % 3) * 4 + 1}"))
      .toDF("k", "d").repartition(2).write.partitionBy("d").parquet(loc3)
    MorDelete.delete(spark, loc3, col("k") % 17 === 0, Seq("k"))
    assert(MorDelete.read(spark, loc3).schema("d").dataType ==
      MorDelete.readIgnoringStats(spark, loc3).schema("d").dataType)
    val p3 = col("d") >= "2020-01-05"
    assert(ks(MorDelete.readWhere(spark, loc3, p3)) ==
      ks(MorDelete.readIgnoringStats(spark, loc3).filter(p3)))
  }

  test("a write-path stats failure degrades the commit but is NEVER silent") {
    // the failure vector: an NTZ stat column analyzed under UTC, then a
    // commit from a non-UTC session — computeFileStats refuses (zone-
    // shifted bounds would mis-prune forever), the commit must land
    // stats-less, and the degrade must be visible twice over: the
    // process counter bumps, and DESCRIBE HISTORY reports the reopened
    // coverage window as stats_missing > 0
    val sp = spark; import sp.implicits._
    val loc = Files.createTempDirectory("graft_statsfail").toString + "/t"
    (1 to 50).map(i => (i.toLong,
        java.time.LocalDateTime.of(2021, 3, 1 + (i % 20), 0, 0)))
      .toDF("k", "ts").repartition(1).write.parquet(loc)
    val zone0 = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      MorDelete.delete(spark, loc, col("k") === -1L, Seq("k"))
      Maintenance.analyze(spark, loc, Seq("ts"))
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val before = Maintenance.statsFailureCount.get()
      MorUpsert.upsert(spark, loc,
        Seq((1000L, java.time.LocalDateTime.of(2022, 1, 1, 0, 0)))
          .toDF("k", "ts"), Seq("k"))
      assert(Maintenance.statsFailureCount.get() == before + 1,
        "the swallowed stats failure must bump the process counter")
      assert(Maintenance.lastStatsFailure.exists(_.contains("UTC")),
        s"the recorded cause must name the refusal: ${Maintenance.lastStatsFailure}")
      // the commit LANDED (degrade, don't fail) …
      assert(MorDelete.read(spark, loc).filter(col("k") === 1000L).count() == 1L)
      // … and the reopened window is visible in DESCRIBE HISTORY
      val h = MorDelete.history(spark, loc)
      assert(h.head().getAs[Long]("stats_missing") > 0L,
        "the head commit must report the uncovered new file")
      assert(h.orderBy("ordinal").head().getAs[Long]("stats_missing") == 0L ||
        h.filter(col("operation") === "ANALYZE").count() > 0,
        "pre-degrade commits stay fully covered")
      // a same-zone re-analyze closes the window again
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      Maintenance.analyze(spark, loc)
      assert(MorDelete.history(spark, loc).head()
        .getAs[Long]("stats_missing") == 0L)
    } finally spark.conf.set("spark.sql.session.timeZone", zone0)
  }

  test("truncated string bounds: prefix min, bumped max, pruning past 64 chars") {
    import org.apache.spark.unsafe.types.UTF8String
    def bin(a: String, b: String) =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    // unit properties of the truncation pair
    assert(MorDelete.truncCp("ab", 64) == "ab")
    val long = "p" * 100
    assert(MorDelete.truncCp(long, 64) == "p" * 64)
    assert(MorDelete.truncatedUpperBound(long, 64).contains("p" * 63 + "q"))
    // the bumped bound sorts ABOVE the original in UTF-8 binary order,
    // surrogate pairs never split at the cut
    val emoji = "a" * 63 + new String(Character.toChars(0x1F600)) + "tail"
    assert(bin(MorDelete.truncatedUpperBound(emoji, 64).get, emoji) > 0)
    // a bump landing in the surrogate gap jumps to U+E000
    val dSeven = "\ud7ff" * 70
    assert(MorDelete.truncatedUpperBound(dSeven, 64).get.last == '\ue000')
    // all-U+10FFFF has no finite bump
    assert(MorDelete.truncatedUpperBound(
      new String(Character.toChars(0x10FFFF)) * 3, 2).isEmpty)

    // end-to-end: a long-URL column (every value ~100 chars) clustered
    // by prefix — equality and LIKE-prefix predicates must PRUNE files
    // off the truncated bounds and stay exact against the oracle
    val sp = spark; import sp.implicits._
    val loc = Files.createTempDirectory("graft_longstr").toString + "/t"
    val rows = (0 until 240).map { i =>
      (i.toLong, f"https://host${i % 4}%02d.example.com/${"x" * 80}/page$i")
    }
    rows.toDF("k", "url").repartitionByRange(4, col("url"))
      .sortWithinPartitions("url").write.parquet(loc)
    MorDelete.delete(spark, loc, col("k") === -1L, Seq("k"))
    Maintenance.analyze(spark, loc, Seq("url"))
    val st = MorDelete.liveState(spark, loc)
    assert(st.stats.values.flatten.exists(s =>
      s.smin.isDefined && s.smax.exists(_.length <= 65)),
      "long values must still publish (truncated) bounds")
    val probe = rows(17)._2
    for (pred <- Seq(col("url") === probe, col("url").startsWith("https://host03"),
        col("url") >= "https://host02" && col("url") < "https://host03")) {
      val oracle = MorDelete.readIgnoringStats(spark, loc).filter(pred)
        .select("k").collect().map(_.getLong(0)).toSeq.sorted
      assert(MorDelete.readWhere(spark, loc, pred).select("k")
        .collect().map(_.getLong(0)).toSeq.sorted == oracle, s"diverged: $pred")
      val kept = MorDelete.pruneByStats(spark, st, pred)
      assert(kept.size < st.dataFiles.size,
        s"long-value bounds must still prune under $pred")
    }
  }

  test("stats evaluator: strict comparisons stay sound above 2^53 (double-domain rounding)") {
    val sp = spark; import sp.implicits._
    val loc = Files.createTempDirectory("graft_bigkey").toString + "/t"
    val base = 9007199254740992L // 2^53: doubles step by 2 here
    // k = 2^53 + 1 rounds DOWN to 2^53 in the double domain — the
    // published max equals round(literal), and without the ulp slack
    // `k > 2^53` would prune the file holding the matching row
    Seq((base + 1, 1L), (base - 10, 2L)).toDF("k", "t")
      .repartition(1).write.parquet(loc)
    MorDelete.delete(spark, loc, col("t") === -1L, Seq("t")) // manage the table
    Maintenance.analyze(spark, loc, Seq("k"))
    val got = MorDelete.readWhere(spark, loc, col("k") > base)
      .select("t").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), s"row above 2^53 lost to bound rounding: $got")
  }

  test("nameSeq (planning-time file routing) mirrors the fileSeq column's parse") {
    // one shared rule (r18, ADVICE_r17): the readChanges planning split and
    // the per-row __mor_fseq column must classify every file name the same
    // way — part-morN- prefix parses to N, anything else (base/CoW names,
    // malformed or overflowing tokens) to 0
    import graft.sources.MorDelete
    assert(MorDelete.nameSeq("part-mor7-0042-c000.parquet") == 7L)
    assert(MorDelete.nameSeq("part-mor123-x.parquet") == 123L)
    assert(MorDelete.nameSeq("part-00000-uuid-c000.snappy.parquet") == 0L)
    assert(MorDelete.nameSeq("part-mor-x.parquet") == 0L)
    assert(MorDelete.nameSeq("part-morabc-x.parquet") == 0L)
    assert(MorDelete.nameSeq("part-mor99999999999999999999-x.parquet") == 0L)
    assert(MorDelete.nameSeq("xpart-mor5-x.parquet") == 0L)
  }

  test("constructing a read after a delete launches zero Spark jobs") {
    val loc = freshTable()
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 3, Seq("o_orderkey"))
    MorDelete.read(spark, loc) // the data files' footer schema is memoized
    MorDelete.delete(spark, loc, col("o_orderkey") % 10 === 7, Seq("o_orderkey"))
    // the sidecar's schema is the oldest live batch's footer, read on the
    // driver: a new batch set must not cost an inference job
    val (df, jobs) = jobsOf(MorDelete.read(spark, loc))
    assert(jobs == 0, s"MorDelete.read construction launched $jobs job(s)")
    assert(df.filter(col("o_orderkey") % 10 === 3 || col("o_orderkey") % 10 === 7)
      .isEmpty)
  }

  test("commit jobs do not grow with the column count") {
    // the same rows under 3 and under 20 columns: a commit that inferred
    // a schema per column (one job each) would launch 17 more jobs on the
    // wide table for every upsert, merge and compaction
    def table(width: Int): String = {
      val loc = Files.createTempDirectory("graft_mor_width").toString + "/t"
      spark.range(0, 2000).select(col("id").as("k") +:
          (1 until width).map(i => (col("id") * i % 97).as(s"c$i")): _*)
        .repartition(4).write.parquet(loc)
      loc
    }
    def ops(loc: String): Map[String, Int] = {
      val del = jobsOf(MorDelete.delete(spark, loc, col("k") % 10 === 3, Seq("k")))._2
      def batch(lo: Long, hi: Long) = {
        val t = MorDelete.read(spark, loc)
        t.filter(col("k").between(lo, hi)).withColumn("c1", col("c1") + 1)
          .unionByName(t.filter(col("k").between(lo, hi)).withColumn("k", col("k") + 5000))
      }
      val (u, ups) = jobsOf(MorUpsert.upsert(spark, loc, batch(0, 99), Seq("k")))
      assert(u.keysTombstoned == 90)
      val (m, mrg) = jobsOf(MorUpsert.merge(spark, loc, batch(200, 299), Seq("k"),
        deleteWhen = Some(col("c2") === 0), insertUnmatched = false,
        updateSet = Some(Seq("c1" -> (col("src_c1") * 2)))))
      assert(m.keysDeleted + m.keysUpdated == 90 && m.rowsInserted == 0)
      val cmp = jobsOf(MorDelete.compact(spark, loc))._2
      Map("delete" -> del, "upsert" -> ups, "merge" -> mrg, "compact" -> cmp)
    }
    val (narrow, wide) = (ops(table(3)), ops(table(20)))
    info(s"jobs per commit: $wide")
    assert(narrow == wide, s"jobs per commit, 3 columns $narrow vs 20 columns $wide")
    // one classification pass, one append, one tombstone batch: the jobs
    // that move or check rows, and none that infer a schema
    assert(wide("upsert") <= UpsertJobBudget && wide("merge") <= UpsertJobBudget,
      s"upsert/merge over the budget of $UpsertJobBudget jobs: $wide")
  }
}
