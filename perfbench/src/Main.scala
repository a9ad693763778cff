package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.Instant

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType}

import graft.Q
import graft.etl.{FixtureGen, Pipeline}
import graft.sources.SnapshotLog

/** One timed call into the program. `split` holds the traced layer walls
  * of the op (for a registry op: build and execute). */
final case class Op(name: String, kind: String, wall: Double, ok: Boolean,
    err: String = "", split: Map[String, Double] = Map.empty)

/** One pass over a workload's fixed op list. `layers` is filled on traced
  * passes only. */
final case class PassOut(wall: Double, cpu: Double, traced: Boolean,
    ops: Seq[Op], layers: Map[String, Double], extra: Map[String, Any])

trait Workload {
  /** Generate or load the input; timed as part of set-up. */
  def setup(spark: SparkSession): Unit
  /** One pass; `cold` marks the first pass in the process. */
  def pass(spark: SparkSession, p: Int, cold: Boolean, tracer: Option[Tracer]): PassOut
  /** What the output checks need: paths, oracle SQL. */
  def summary: Map[String, Any] = Map.empty
}

object Main {
  val MaxPasses = 40

  def tick(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def session(cpus: Int, local: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Bytes and regular-file count under `dir`, optionally filtered. */
  def du(dir: Path, keep: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try {
        var bytes, files = 0L
        s.filter(p => Files.isRegularFile(p) && keep(p)).forEach { p =>
          bytes += Files.size(p); files += 1
        }
        (bytes, files)
      } finally s.close()
    }

  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val corpus = opts("corpus")
    val cpus = opts("cpus").toInt
    val setups = opts.getOrElse("setups", "3").toInt
    val minPasses = opts.getOrElse("min-passes", "3").toInt
    val sizes = opts.getOrElse("sizes", "").split(",").filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split("="); k -> v }.toMap
    val local = work.resolve("local").toString

    val w: Workload = workload match {
      case "registry_headline" =>
        new RegistryWorkload(graft.Registry.all.filter(_.headline), corpus, work, seed)
      case "registry_build" =>
        new RegistryWorkload(Seq("s14_sq_int8", "s23_persisted_ivf").map(graft.Registry.byName),
          corpus, work, seed)
      case "etl_medallion" =>
        new EtlWorkload(work, seed, sizes("batches").toInt, sizes("tx").toInt)
      case "table_commits" =>
        new CommitWorkload(corpus, work, seed, sizes("cycles").toInt, sizes("rows").toInt)
      case "etl_commits" =>
        new BothWorkload(
          new EtlWorkload(work, seed, sizes("batches").toInt, sizes("tx").toInt),
          new CommitWorkload(corpus, work, seed, sizes("cycles").toInt, sizes("rows").toInt))
      case other => sys.error(s"unknown workload $other")
    }

    // set-up several times, each in a fresh session; the last one stays
    val setupTimes = (0 until setups).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      val t0 = tick()
      val spark = session(cpus, local)
      w.setup(spark)
      secs(t0)
    }
    val spark = SparkSession.active

    val cold = w.pass(spark, 0, cold = true, None)
    // warm passes: closed loop, one client, until the time is up. A traced
    // run interleaves untraced and traced passes as U T T U U T T U ..., so
    // a drift across the run (JIT, caches) falls on both sides evenly
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[PassOut]
    val t0 = tick()
    var p = 1
    val least = if (traced) 4 else minPasses
    while (p <= MaxPasses && (p <= least || secs(t0) < seconds)) {
      val on = traced && (p % 4 == 2 || p % 4 == 3)
      if (on) tracer.get.start()
      passes += w.pass(spark, p, cold = false, if (on) tracer else None)
      if (on) tracer.get.stop()
      p += 1
    }
    val measured = secs(t0)
    spark.stop()

    val out = Json.obj(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup_s" -> setupTimes, "measured_s" -> measured,
      "cold" -> passJson(cold), "passes" -> passes.map(passJson).toSeq,
      "summary" -> w.summary)
    Files.write(work.resolve("result.json"), out.getBytes(StandardCharsets.UTF_8))
  }

  def passJson(p: PassOut): Map[String, Any] = Map(
    "wall" -> p.wall, "cpu" -> p.cpu, "traced" -> p.traced,
    "ops" -> p.ops.map(o => Map("name" -> o.name, "kind" -> o.kind, "wall" -> o.wall,
      "ok" -> o.ok, "err" -> o.err, "split" -> o.split)),
    "layers" -> p.layers, "extra" -> p.extra)

  /** Times `f` as one op; a throw marks the op failed. */
  def timed(name: String, kind: String)(f: => Boolean): Op = {
    val t0 = tick()
    try {
      val ok = f
      Op(name, kind, secs(t0), ok, if (ok) "" else "output check failed")
    } catch {
      case NonFatal(e) => Op(name, kind, secs(t0), ok = false, e.toString.take(300))
    }
  }

  /** Runs `ops` as one pass, timing wall and process CPU. */
  def runPass(traced: Boolean)(ops: => (Seq[Op], Map[String, Double], Map[String, Any])): PassOut = {
    val c0 = processCpuSec()
    val t0 = tick()
    val (o, layers, extra) = ops
    PassOut(secs(t0), processCpuSec() - c0, traced, o, layers, extra)
  }

  /** Layer metrics common to every workload, from the pass's counters.
    * `outside` holds work the caller attributes to its own layer (a
    * registry op's build), excluded from the driver and exec figures. */
  def commonLayers(all: Seq[Counters], outside: Seq[Counters]): Map[String, Double] = {
    val inside = all.filterNot(c => outside.exists(_ eq c))
    def sum(cs: Seq[Counters])(f: Counters => Double): Double = cs.map(f).sum
    Map(
      "driver.analyze_s" -> sum(inside)(_.analysisMs / 1000.0),
      "driver.optimize_s" -> sum(inside)(_.optimizationMs / 1000.0),
      "driver.plan_s" -> sum(inside)(_.planningMs / 1000.0),
      "exec.execute_s" -> sum(inside)(_.sqlBusySec),
      "exec.driver_gap_s" -> sum(inside)(_.sqlGapSec),
      "exec.jobs" -> sum(inside)(_.jobs.toDouble),
      "exec.stages" -> sum(inside)(_.stages.toDouble),
      "exec.tasks" -> sum(inside)(_.tasks.toDouble),
      "exec.task_s" -> sum(all)(_.taskMs / 1000.0),
      "exec.task_cpu_s" -> sum(all)(_.taskCpuNs / 1e9),
      "exec.gc_s" -> sum(all)(_.gcMs / 1000.0),
      "scan.files_read" -> sum(all)(_.filesRead.toDouble),
      "scan.input_bytes" -> sum(all)(_.inputBytes.toDouble),
      "scan.input_rows" -> sum(all)(_.inputRows.toDouble),
      "exchange.shuffle_write_bytes" -> sum(all)(_.shuffleWriteBytes.toDouble),
      "exchange.shuffle_records" -> sum(all)(_.shuffleRecords.toDouble),
      "exchange.spill_bytes" -> sum(all)(_.spillBytes.toDouble),
      "exchange.fetch_wait_s" -> sum(all)(_.fetchWaitMs / 1000.0),
      "operators.agg_sort_fallbacks" -> sum(all)(_.aggFallbacks.toDouble))
  }
}

import Main._

/** Registry queries: each op is `q.build` plus a noop-sink execute, from a
  * cleared cache. The cold pass writes each query's first result to
  * parquet instead, for the oracle check. The seed sets the query order. */
final class RegistryWorkload(qs: Seq[Q], corpus: String, work: Path, seed: Long)
    extends Workload {
  private val dumps = work.resolve("dump")

  def setup(spark: SparkSession): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
      "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$corpus/$t.parquet").schema
    }

  def pass(spark: SparkSession, p: Int, cold: Boolean, tracer: Option[Tracer]): PassOut =
    runPass(tracer.isDefined) {
      val order = new Random(seed * 7919L + p).shuffle(qs)
      val counters = mutable.ArrayBuffer.empty[Counters]
      val builds = mutable.ArrayBuffer.empty[Counters]
      val ops = order.map { q =>
        spark.catalog.clearCache()
        var df: DataFrame = null
        val split = mutable.Map.empty[String, Double]
        val op = timed(q.name, "query") {
          val t0 = tick()
          df = q.build(spark, corpus)
          split("build_s") = secs(t0)
          tracer.foreach { t => val c = t.take(); builds += c; counters += c }
          val t1 = tick()
          if (cold) df.coalesce(1).write.mode("overwrite").parquet(dumps.resolve(q.name).toString)
          else df.write.mode("overwrite").format("noop").save()
          split("execute_s") = secs(t1)
          tracer.foreach { t =>
            val c = t.take(); counters += c
            split("driver_s") = c.driverSec
            split("exec_s") = c.sqlBusySec
          }
          true
        }
        op.copy(split = split.toMap)
      }
      val layers =
        if (tracer.isEmpty) Map.empty[String, Double]
        else commonLayers(counters.toSeq, builds.toSeq) ++ Map(
          "queries.build_s" -> ops.map(_.split.getOrElse("build_s", 0.0)).sum,
          "queries.build_jobs" -> builds.map(_.jobs.toDouble).sum,
          "trace.covered_s" -> ops.map(o => Seq("build_s", "driver_s", "exec_s")
            .map(o.split.getOrElse(_, 0.0)).sum).sum)
      (ops, layers, Map.empty)
    }

  override def summary: Map[String, Any] = Map(
    "oracle" -> qs.map(q => q.name -> q.oracle.getOrElse(null)).toMap,
    "dumps" -> dumps.toString)
}

/** The LogiCash medallion pipeline: seeded FixtureGen batches in one
  * Bronze folder; each op touches `_READY`, runs `Pipeline.run` and
  * checks `_SUCCESS`. */
final class EtlWorkload(work: Path, seed: Long, batches: Int, tx: Int) extends Workload {
  val clock: Timestamp = Timestamp.from(Instant.parse("2026-01-01T00:00:00Z"))
  private val bronze = work.resolve("bronze")
  private val out = work.resolve("out")

  def setup(spark: SparkSession): Unit = {
    rmrf(bronze)
    Files.createDirectories(bronze.resolve("fact_transactions"))
    // FixtureGen always names its files after one fixed timestamp, so each
    // batch is generated into its own root and renamed into Bronze; the
    // ATM dimension comes from the first batch only
    (0 until batches).foreach { b =>
      val root = work.resolve(s"gen$b")
      rmrf(root)
      FixtureGen.write(root.toString, nTx = tx, seed = seed * 1000L + b, clock = clock)
      Files.move(root.resolve("fact_transactions/fact_transactions_20260101_000000.csv"),
        bronze.resolve(f"fact_transactions/fact_transactions_batch$b%03d.csv"))
      if (b == 0) Files.move(root.resolve("dim_atms"), bronze.resolve("dim_atms"))
      rmrf(root)
    }
  }

  def pass(spark: SparkSession, p: Int, cold: Boolean, tracer: Option[Tracer]): PassOut =
    runPass(tracer.isDefined) {
      var result: graft.etl.PipelineResult = null
      val success = out.resolve("_SUCCESS")
      Files.deleteIfExists(success)
      Files.write(bronze.resolve("_READY"), Array.emptyByteArray)
      val op = timed("pipeline_run", "pipeline") {
        result = Pipeline.run(spark, bronze.toString, out.toString, clock)
        Files.exists(success)
      }
      val extra: Map[String, Any] =
        if (result == null) Map.empty
        else {
          val s = result.stats
          val v = result.validation
          Map("stats" -> Map("total" -> s.totalRows, "kept" -> s.kept,
            "violations" -> s.violationsByRule),
            "validation" -> Map("total" -> v.totalRows, "nn_atm" -> v.nonNullAtm,
              "nn_monto" -> v.nonNullMonto, "nn_ubicacion" -> v.nonNullUbicacion,
              "min_monto" -> v.minMonto.toPlainString, "max_monto" -> v.maxMonto.toPlainString,
              "montos_invalidos" -> v.montosInvalidos, "n_atms" -> v.distinctAtms,
              "n_days" -> v.distinctDays))
        }
      val layers = tracer.map { t =>
        val c = t.take()
        def step(f: String => Boolean): Double = c.actions.collect { case (k, s) if f(k) => s }.sum
        val silverW = step(k => k.startsWith("write:") && k.endsWith("/silver"))
        val goldW = step(k => k.startsWith("write:") && k.contains("/gold_"))
        val readback = step(_ == "count")
        val validate = step(_ == "collect")
        val (silverBytes, silverFiles) = du(out.resolve("silver"), isDataFile)
        commonLayers(Seq(c), Nil) ++ Map(
          "etl.silver_write_s" -> silverW, "etl.readback_s" -> readback,
          "etl.gold_s" -> goldW, "etl.validate_s" -> validate,
          "etl.driver_s" -> (op.wall - silverW - goldW - readback - validate),
          "etl.silver_files" -> silverFiles.toDouble, "etl.silver_bytes" -> silverBytes.toDouble,
          "etl.space_amp" -> du(out)._1.toDouble / du(bronze)._1,
          "trace.covered_s" -> (silverW + goldW + readback + validate))
      }.getOrElse(Map.empty)
      (Seq(op), layers, extra)
    }

  private def isDataFile(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  override def summary: Map[String, Any] = Map(
    "bronze" -> bronze.toString, "out" -> out.toString,
    "clock" -> "2026-01-01 00:00:00")
}

/** The SnapshotLog commit plane: a table loaded from the corpus orders,
  * partitioned by status. A pass is `cycles` seeded cycles of append,
  * upsert, deletion-vector delete, update and read, then one optimize and
  * a final read. Each cycle owns a disjoint key range, so the expected row
  * count and price sum are tracked exactly beside the table. */
final class CommitWorkload(corpus: String, work: Path, seed: Long, cycles: Int, rows: Int)
    extends Workload {
  private val base = work.resolve("table")
  private val part = "o_orderstatus"
  private val money = DecimalType(12, 2)
  /** expected table state: key → (status, price) */
  private val model = mutable.Map.empty[Long, (String, BigDecimal)]
  private var cycle = 0
  /** parquet bytes per row of the corpus orders: the user-input size */
  private var bytesPerRow = 1.0
  private var dateType: DataType = _

  private def orders(spark: SparkSession): DataFrame =
    spark.read.parquet(s"$corpus/orders.parquet")
      .withColumn("o_totalprice", col("o_totalprice").cast(money))

  def setup(spark: SparkSession): Unit = {
    rmrf(base)
    model.clear()
    cycle = 0
    val df = orders(spark)
    dateType = df.schema("o_orderdate").dataType
    SnapshotLog.appendBatch(spark, base.toString, df, part, 0L)
    df.select("o_orderkey", part, "o_totalprice").collect().foreach { r =>
      model(r.getLong(0)) = (r.getString(1), BigDecimal(r.getDecimal(2)))
    }
    bytesPerRow = Files.size(Paths.get(s"$corpus/orders.parquet")).toDouble / model.size
  }

  private def rowsDf(spark: SparkSession, rs: Seq[(Long, String, BigDecimal)]): DataFrame = {
    import spark.implicits._
    rs.map { case (k, s, p) => (k, k % 1000L, s, p.bigDecimal,
      Timestamp.valueOf("2024-01-01 00:00:00"), "3-MEDIUM") }
      .toDF("o_orderkey", "o_custkey", part, "o_totalprice", "o_orderdate", "o_orderpriority")
      .withColumn("o_totalprice", col("o_totalprice").cast(money))
      .withColumn("o_orderdate", col("o_orderdate").cast(dateType))
  }

  def pass(spark: SparkSession, p: Int, cold: Boolean, tracer: Option[Tracer]): PassOut =
    runPass(tracer.isDefined) {
      val rnd = new Random(seed * 104729L + p)
      val ops = mutable.ArrayBuffer.empty[Op]
      val commits = mutable.ArrayBuffer.empty[Counters]
      val all = mutable.ArrayBuffer.empty[Counters]
      val a0 = SnapshotLog.commitAttempts.get
      val w0 = SnapshotLog.commitWins.get
      def op(kind: String, commit: Boolean)(f: => Boolean): Unit = {
        ops += timed(kind, kind)(f)
        tracer.foreach { t => val c = t.take(); all += c; if (commit) commits += c }
      }
      // the table's row count and price sum must equal the model's
      def read(): Unit = {
        val (n, total) = (model.size.toLong, model.values.map(_._2).sum)
        op("read", commit = false) {
          val r = SnapshotLog.read(spark, base.toString).get
            .agg(count(lit(1)), coalesce(sum(col("o_totalprice")), lit(0))).collect()(0)
          r.getLong(0) == n && BigDecimal(r.getDecimal(1)) == total
        }
      }
      val statuses = Seq("F", "O", "P")
      (0 until cycles).foreach { _ =>
        cycle += 1
        val lo = 10000000L * cycle
        val fresh = (0 until rows).map { i =>
          (lo + i, statuses(rnd.nextInt(3)), BigDecimal(1000 + rnd.nextInt(400000), 2))
        }
        val freshDf = rowsDf(spark, fresh)
        op("append", commit = true) {
          SnapshotLog.appendBatch(spark, base.toString, freshDf, part, cycle.toLong)
          true
        }
        fresh.foreach { case (k, s, pr) => model(k) = (s, pr) }
        // upsert: re-price a quarter of the cycle's keys (same status, so
        // no partition move) and insert an eighth more new keys
        val changed = fresh.take(rows / 4).map { case (k, s, _) =>
          (k, s, BigDecimal(1000 + rnd.nextInt(400000), 2)) } ++
          (rows until rows + rows / 8).map { i =>
            (lo + i, statuses(rnd.nextInt(3)), BigDecimal(1000 + rnd.nextInt(400000), 2)) }
        val changedDf = rowsDf(spark, changed)
        op("upsert", commit = true) {
          SnapshotLog.upsertBatch(spark, base.toString, changedDf, "o_orderkey",
            "o_orderdate", part, cycle.toLong)
          true
        }
        changed.foreach { case (k, s, pr) => model(k) = (s, pr) }
        val dLo = lo + rows / 2
        val dHi = dLo + rows / 8 - 1
        op("delete_dv", commit = true) {
          SnapshotLog.deleteWhere(spark, base.toString, col("o_orderkey").between(dLo, dHi),
            part, deletionVectors = true)
          true
        }
        (dLo to dHi).foreach(model.remove)
        val uLo = lo + rows / 4
        val uHi = uLo + rows / 8 - 1
        op("update", commit = true) {
          SnapshotLog.updateWhere(spark, base.toString, col("o_orderkey").between(uLo, uHi),
            Map("o_totalprice" -> (col("o_totalprice") + lit(BigDecimal("1.00"))).cast(money)),
            part)
          true
        }
        (uLo to uHi).foreach { k =>
          model.get(k).foreach { case (s, pr) => model(k) = (s, pr + BigDecimal("1.00")) } }
        read()
      }
      op("optimize", commit = true) {
        SnapshotLog.optimizeTable(spark, base.toString, part)
        true
      }
      read()

      val layers = tracer.map { _ =>
        def med(kind: String): Double = {
          val xs = ops.filter(_.kind == kind).map(_.wall).sorted
          if (xs.isEmpty) 0.0 else xs(xs.size / 2)
        }
        val dw = (SnapshotLog.commitWins.get - w0).max(1L)
        val bp = new HPath(base.toString)
        val m = SnapshotLog.readManifest(
          bp.getFileSystem(spark.sparkContext.hadoopConfiguration), bp)
        val live = m.map(_.allFiles.size.toLong).getOrElse(0L)
        val (bytes, _) = du(base)
        val (dataBytes, _) = du(base, p => p.getFileName.toString.endsWith(".parquet"))
        commonLayers(all.toSeq, Nil) ++ Map(
          "sources.append_s" -> med("append"), "sources.upsert_s" -> med("upsert"),
          "sources.delete_dv_s" -> med("delete_dv"), "sources.update_s" -> med("update"),
          "sources.optimize_s" -> med("optimize"), "sources.read_s" -> med("read"),
          "sources.jobs_per_commit" -> commits.map(_.jobs.toDouble).sum / commits.size,
          "sources.attempts_per_win" ->
            (SnapshotLog.commitAttempts.get - a0).toDouble / dw,
          "sources.live_files" -> live.toDouble,
          "sources.metadata_bytes" -> (bytes - dataBytes).toDouble,
          "sources.space_amp" -> bytes / (bytesPerRow * model.size),
          "trace.covered_s" -> all.map(c => c.driverSec + c.sqlBusySec).sum)
      }.getOrElse(Map.empty)
      (ops.toSeq, layers, Map("rows" -> model.size))
    }
}

/** The write path: each pass is one medallion pipeline run followed by one
  * commit cycle on the SnapshotLog table. Layer figures both parts report
  * (driver, exec, scan, ...) are summed; the rest belong to one part. */
final class BothWorkload(etl: EtlWorkload, table: CommitWorkload) extends Workload {
  def setup(spark: SparkSession): Unit = {
    etl.setup(spark)
    table.setup(spark)
  }

  def pass(spark: SparkSession, p: Int, cold: Boolean, tracer: Option[Tracer]): PassOut = {
    val a = etl.pass(spark, p, cold, tracer)
    val b = table.pass(spark, p, cold, tracer)
    val layers = (a.layers.keySet ++ b.layers.keySet).map { k =>
      k -> (a.layers.getOrElse(k, 0.0) + b.layers.getOrElse(k, 0.0)) }.toMap
    PassOut(a.wall + b.wall, a.cpu + b.cpu, a.traced, a.ops ++ b.ops, layers, a.extra ++ b.extra)
  }

  override def summary: Map[String, Any] = etl.summary ++ table.summary
}

/** Minimal JSON rendering for the result file (no JSON library is on the
  * program's classpath contract). */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => render(o.toString)
  }
  def obj(kv: (String, Any)*): String = render(kv.toMap)
}
