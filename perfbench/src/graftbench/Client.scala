package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, count, lit}
import org.json4s.DefaultFormats
import org.json4s.jackson.{JsonMethods, Serialization}

import graft.sources.{Layout, Maintenance, MorDelete, MorUpsert}

/** The benchmark's closed-loop client: one thread issuing one operation at a
  * time against one engine session, in the order the seed picks.
  *
  *   java graftbench.Client --workload analytic|mor-churn --seed N
  *     --seconds S --trace 0|1 --cores C --data DIR --out DIR [--pool k1,k2]
  *
  * `--data` holds the generated inputs; `--out` receives `run.json` (every
  * operation with its timings and results) and, traced, `spans.jsonl`.
  * Correctness is judged afterwards by perfbench/run.py against DuckDB.
  */
object Client {
  private val keyCols = Seq("l_orderkey", "l_linenumber")
  private val WriteKinds = Set("delete", "upsert", "merge", "compact")
  /** Fails at construction: lets a test plant a failing query in the pool. */
  val PlantedFailure = "bench_planted_failure"

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val c = new Client(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("cores").toInt, a("data"), a("out"),
      a.get("pool").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil))
    c.run()
  }

  /** Drops any byte-order dependence: rows as strings, sorted, hashed. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def json(v: AnyRef): String = Serialization.write(v)(DefaultFormats)

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
}

final class Client(workload: String, seed: Long, seconds: Double, trace: Boolean,
    cores: Int, data: String, out: String, pool: Seq[String]) {
  import Client._

  private val tables = s"$data/tables"
  private val t0 = System.nanoTime()
  private val spark = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graftbench")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$out/spark-local")
    .config("spark.sql.warehouse.dir", s"$out/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  graft.Engine.configure(spark)
  private val sessionS = (System.nanoTime() - t0) / 1e9
  private val tracer = new Tracer(spark.sparkContext)
  private val ops = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]

  private def secs(from: Long) = (System.nanoTime() - from) / 1e9

  /** Registers the tracer's listeners for traced passes only, so untraced
    * passes run with no listener of the benchmark's attached. */
  private def traced(on: Boolean): Unit = if (on != tracer.enabled) {
    tracer.enabled = on
    if (on) {
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    } else {
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }
  }

  /** One operation: the body gets the op span id and the op's record to
    * fill. A throw is recorded, never rethrown, and the time until it counts. */
  private def op(phase: String, pass: Int, kind: String, name: String)(
      body: (Long, mutable.LinkedHashMap[String, Any]) => Unit): Unit = {
    val f = mutable.LinkedHashMap[String, Any]("i" -> ops.size, "phase" -> phase,
      "pass" -> pass, "traced" -> tracer.enabled, "kind" -> kind, "key" -> name)
    val s = System.nanoTime()
    try {
      tracer.span(name, "op", 0)(id => body(id, f))
      f("ok") = true
    } catch {
      case e: Throwable =>
        f("ok") = false
        f("error") = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    f("lat_s") = secs(s)
    spark.catalog.clearCache()
    ops += f
  }

  /** construct → plan → execute, each a span; returns the collected rows. */
  private def query(opId: Long, f: mutable.LinkedHashMap[String, Any],
      constructLayer: String)(build: => DataFrame): (DataFrame, Array[Row]) = {
    def timed[T](name: String, layer: String)(body: => T): (T, Long) = {
      val s = System.nanoTime()
      tracer.span(name, layer, opId) { id =>
        val r = body
        f(s"${name}_ms") = (System.nanoTime() - s) / 1e6
        (r, id)
      }
    }
    val (df, cId) = timed("construct", constructLayer)(build)
    val (_, pId) = timed("plan", "catalyst")(df.queryExecution.executedPlan)
    val (rows, xId) = timed("exec", "exec")(df.collect())
    if (tracer.enabled) {
      val cw = tracer.workOf(cId)
      val pw = tracer.workOf(pId)
      val xw = tracer.workOf(xId)
      val ps = PlanStats.of(df)
      f ++= Seq("construct_jobs" -> cw.jobs, "plan_jobs" -> pw.jobs,
        "exec_jobs" -> xw.jobs, "exec_stages" -> xw.stages, "exec_tasks" -> xw.tasks,
        "task_run_ms" -> xw.runMs, "task_cpu_ms" -> xw.cpuNs / 1e6, "gc_ms" -> xw.gcMs,
        "input_bytes" -> xw.inputBytes, "shuffle_write_bytes" -> xw.shuffleWriteBytes,
        "spill_bytes" -> xw.spillBytes, "peak_exec_mem" -> xw.peakExecMem,
        "broadcast_bytes" -> ps.broadcastBytes, "data_files" -> ps.dataFiles,
        "tomb_files" -> ps.tombFiles, "tomb_rows" -> ps.tombRows,
        "spark_phases_ms" -> tracer.sparkPhasesMs(df.queryExecution).getOrElse(-1L))
    }
    (df, rows)
  }

  // ---------------------------------------------------------------- analytic

  private def family(key: String): String =
    if (key.startsWith("tpch_")) "tpch"
    else if (key.startsWith("tpcds_")) "tpcds"
    else if (key.startsWith("events_") || key.startsWith("join_range_")) "operators"
    else if (key.startsWith("llm_")) "llm"
    else "other"

  private def analyticOp(key: String, phase: String, pass: Int, keep: Boolean): Unit =
    op(phase, pass, "read", key) { (id, f) =>
      f("family") = family(key)
      val (df, rows) = query(id, f, "queries") {
        if (key == PlantedFailure) throw new IllegalStateException("planted failure")
        graft.Registry.bench(key).fn(spark, tables)
      }
      f("digest") = digest(rows)
      f("nrows") = rows.length
      if (keep) { // the reference result the oracle checks, written untimed
        val rs = java.util.Arrays.asList(rows: _*)
        spark.createDataFrame(rs, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/results/$key")
      }
    }

  private def analytic(): Map[String, Any] = {
    val oracle = pool.map(k => k -> graft.Registry.bench.get(k).flatMap(_.oracle).orNull)
    // pass 0 is cold and keeps each result for the oracle. Pass times keep
    // falling for several passes while the JIT compiles the engine's hot
    // paths, so the warm-up runs at least three
    def pass(phase: String, n: Int): Double = {
      val s = System.nanoTime()
      new Random(seed * 1000 + n).shuffle(pool).foreach(analyticOp(_, phase, n, n == 0))
      secs(s)
    }
    val (warmS, passTimes) = warmUp(pass("warmup", _), 3, 5)
    // five samples of each key for its median
    val measureS = measure(pass("measure", _), passTimes.size, 5, 1)
    Map("oracle" -> oracle.toMap, "warmup_s" -> warmS, "warmup_pass_s" -> passTimes,
      "measure_s" -> measureS)
  }

  /** Warm-up rule: at least `min` passes, then stop once a pass is within
    * 5% of the one before, or after `max` passes. */
  private def warmUp(pass: Int => Double, min: Int, max: Int): (Double, Seq[Double]) = {
    val s = System.nanoTime()
    val times = mutable.ArrayBuffer.empty[Double]
    def settled = times.size >= min &&
      math.abs(times.last - times(times.size - 2)) <= 0.05 * times(times.size - 2)
    while (times.size < max && !settled) times += pass(times.size)
    (secs(s), times.toSeq)
  }

  /** Whole passes until `seconds` have elapsed, at least `minPasses` ran
    * and the count is a multiple of `group`. Traced runs alternate traced
    * and untraced passes (at least one of each) so the tracing overhead is
    * measured on the same work. */
  private def measure(pass: Int => Double, first: Int, minPasses: Int,
      group: Int): Double = {
    val s = System.nanoTime()
    var n = 0
    while (secs(s) < seconds || n < minPasses || n % group != 0 || (trace && n < 2)) {
      traced(trace && n % 2 == 0)
      pass(first + n)
      n += 1
    }
    traced(false)
    secs(s)
  }

  // --------------------------------------------------------------- mor-churn

  private lazy val loc = s"$out/mor/lineitem"
  private val seqs = mutable.HashMap.empty[Int, Long] // write index → sequence
  private var baseSeq = 0L
  private def seqOf(w: Int): Long = if (w < 0) baseSeq else seqs(w)
  private def tableBytes: Long = Seq(loc, MorDelete.sidecarDir(loc), MorDelete.manifestDir(loc))
    .map(p => dirBytes(new File(p))).sum

  private def agg(df: DataFrame, value: String): DataFrame =
    df.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), call_function("dsum8", col(value)).as("s"))

  private def morOp(o: Map[String, Any], phase: String, pass: Int): Unit = {
    val kind = o("op").toString
    def int(k: String) = o(k).asInstanceOf[Number].intValue
    val isWrite = WriteKinds(kind)
    op(phase, pass, if (kind == "compact") "compact" else if (isWrite) "write" else "read",
      kind) { (id, f) =>
      f ++= o.filter(_._1 != "op")
      if (isWrite) {
        val before = tableBytes
        val batch = o.get("batch").map(b => s"$data/batches/$b")
        val s = System.nanoTime()
        try tracer.span("commit", "sources", id) { cId =>
          kind match {
            case "delete" => MorDelete.delete(spark, loc,
              col("l_orderkey").between(int("lo"), int("hi")), keyCols)
            case "upsert" => MorUpsert.upsert(spark, loc, spark.read.parquet(batch.get), keyCols)
            case "merge" => MorUpsert.merge(spark, loc, spark.read.parquet(batch.get), keyCols,
              insertUnmatched = false)
            case "compact" => MorDelete.compact(spark, loc)
          }
          f("commit_ms") = (System.nanoTime() - s) / 1e6
          if (tracer.enabled) f("commit_jobs") = tracer.workOf(cId).jobs
        } finally { // a failed commit leaves the sequence where it was
          seqs(int("w")) = MorDelete.currentSeq(spark, loc)
        }
        f("seq") = seqs(int("w"))
        f("bytes_added") = tableBytes - before
        f("user_bytes") = batch.map(b => new File(b).length()).getOrElse(0L)
      } else {
        val (_, rows) = query(id, f, "sources") {
          kind match {
            case "resolved" => agg(MorDelete.read(spark, loc), "l_quantity")
            case "band" => agg(MorDelete.read(spark, loc).filter(
              col("l_partkey").between(int("plo"), int("phi")) && col("l_suppkey") >= int("smin")),
              "l_extendedprice")
            case "changes" => MorDelete.readChanges(spark, loc, seqOf(int("since")))
              .groupBy(col("_change_type"), col("_commit_version"))
              .agg(count(lit(1)).as("n"), call_function("dsum8", col("l_quantity")).as("s"))
            case "snapshot" => agg(MorDelete.readAt(spark, loc, seqOf(int("at"))), "l_quantity")
          }
        }
        f("rows") = rows.map(r => r.toSeq)
      }
    }
  }

  private def morChurn(): Map[String, Any] = {
    val stream = scala.io.Source.fromFile(s"$data/ops.jsonl").getLines()
      .map(JsonMethods.parse(_).values.asInstanceOf[Map[String, Any]]).toIndexedSeq
    val b = System.nanoTime()
    Layout.zorderWrite(spark, spark.read.parquet(s"$tables/lineitem.parquet"), loc,
      Seq("l_partkey", "l_suppkey"), nFiles = 8)
    Maintenance.analyze(spark, loc, Seq("l_partkey", "l_suppkey"))
    baseSeq = MorDelete.currentSeq(spark, loc)
    val buildS = secs(b)
    var next = 0
    // a pass is one block of the stream: one write, then the reads up to the
    // next write
    def block(phase: String)(n: Int): Double = {
      val s = System.nanoTime()
      require(next < stream.size, "operation stream exhausted")
      do { morOp(stream(next), phase, n); next += 1 }
      while (next < stream.size && !WriteKinds(stream(next)("op").toString))
      secs(s)
    }
    // whole write cycles (delete, upsert, merge, compact), so every run
    // measures the same mix from the same point of the compaction cycle.
    // Blocks differ by write kind, so no per-block settling: the warm-up is
    // the stream's first cycle, which runs every write and read kind once.
    val (warmS, blockTimes) = warmUp(block("warmup"), 4, 4)
    val measureS = measure(block("measure"), blockTimes.size, 4, 4)
    // space amplification: every byte of the table over its live rows
    // rewritten fresh with the same codec
    val fresh = s"$out/mor/fresh"
    MorDelete.read(spark, loc).write.mode("overwrite").parquet(fresh)
    Map("build_s" -> buildS, "warmup_s" -> warmS, "warmup_pass_s" -> blockTimes,
      "measure_s" -> measureS,
      "base_seq" -> baseSeq, "ops_in_stream" -> stream.size,
      "table_bytes" -> tableBytes, "fresh_bytes" -> dirBytes(new File(fresh)))
  }

  def run(): Unit = {
    val res = workload match {
      case "analytic" => analytic()
      case "mor-churn" => morChurn()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // broadcast blocks of finished queries live on the driver heap until the
    // ContextCleaner, which runs after a GC finds them unreachable, drops them
    spark.catalog.clearCache()
    System.gc()
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    Thread.sleep(1000)
    System.gc(); System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    val doc = res ++ Map("workload" -> workload, "seed" -> seed, "cores" -> cores,
      "session_s" -> sessionS, "heap_live_mb" -> heapMb,
      "spark_version" -> spark.version, "ops" -> ops.toSeq)
    Files.writeString(Paths.get(s"$out/run.json"), json(doc))
    if (trace) {
      val w = Files.newBufferedWriter(Paths.get(s"$out/spans.jsonl"))
      tracer.spans.sortBy(_.start).foreach { s =>
        w.write(json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.start, "end_ms" -> s.end) ++
          s.attrs))
        w.newLine()
      }
      w.close()
    }
    spark.stop()
  }
}
