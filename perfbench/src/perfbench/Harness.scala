package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.LessThan

import graft.{SparkEntry, Tables}
import graft.spark.{FooterCache, StrawBulkLoad, StrawCompaction, StrawDelete, StrawLog,
  StrawMerge, StrawUpdate}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** One operation of a workload's closed loop. `timed` is what the settling,
  * measured and warm-up passes run; `warm` runs it once on the untimed
  * checking pass and checks the result, returning a failure message when it
  * is wrong. */
final case class Op(name: String, timed: () => Unit, warm: () => Option[String])

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String)

/** The benchmark's JVM: sets up one workload, checks and warms it, runs
  * whole passes of its operations in a seeded order for the requested time,
  * and writes the measured metrics as JSON to `result.json` in its work
  * directory. */
object Harness {
  val Cores = 4
  /** Untimed passes between the checking pass and the measured ones. The
    * JIT is still compiling on the first passes (its threads take a core's
    * worth of CPU time per pass), and the median over the measured passes
    * should not depend on how far it got. */
  val SettlePasses = 3

  val Tables10 = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  val ScanQueries = Seq("q_scan_filter_project", "q_point_lookup", "q_bloom_lookup",
    "q_scan_strings", "q_scan_dates", "q_codec_sorted", "q_codec_lowcard", "q_agg_sum_meta",
    "q_tpch_q6", "q_agg_groupby", "q_struct_filter", "q_topk_filtered")
  val FullScans = Seq("scan_lineitem_strawboat", "scan_lineitem_parquet")
  // LLM-pipeline entries over documents and embeddings whose set-up needs
  // no index build, few enough that a run holds three passes at 4 cores
  val PipelineQueries = Seq("q_dedup_minhash", "q_dedup_semantic", "q_cluster_assign")

  /** Tables each workload converts during set-up. */
  val WorkloadTables = Map(
    "scan" -> Seq("lineitem", "part", "orders", "documents"),
    "pipeline" -> Seq("documents", "embeddings"))

  val CodecShapes = Seq("i64", "bool", "utf8", "i64_sorted", "i64_dict", "i64_freq",
    "f64_decimal", "f64_random")

  /** Every per-layer metric name, in report order. A traced run reports all
    * of them; one whose layer the workload does not exercise reads 0. The
    * `format` and the write side of the `spark` layer are measured in traced
    * `scan` runs, the `ops` layer in traced `pipeline` runs. */
  val PerLayer: Seq[String] =
    Seq("format.file.write_mb_s", "format.file.read_mb_s", "format.file.read_proj_mb_s",
      "format.file.footer_us", "format.file.bytes_ratio") ++
    CodecShapes.flatMap(s => Seq("encode_mb_s", "decode_mb_s", "ratio").map(m => s"format.codec.$s.$m")) ++
    Seq("spark.scan.rows_s", "spark.scan.parquet_ratio", "spark.scan.footer_loads") ++
    (ScanQueries ++ FullScans).map(q => s"spark.op.${q}_s") ++
    Seq("spark.write.rows_s", "spark.write.parquet_ratio", "spark.dml.delete_s",
      "spark.dml.update_s", "spark.dml.merge_s", "spark.dml.merge_large_s", "spark.dml.compact_s",
      "spark.dml.read_after_s", "spark.log.snapshot_ms") ++
    Seq("entry.plan_s", "entry.jobs", "entry.stages", "entry.tasks", "entry.task_s",
      "entry.core_busy_ratio", "entry.driver_only_s", "entry.gc_s", "entry.shuffle_mb",
      "entry.spill_mb", "entry.input_mb") ++
    PipelineQueries.flatMap(q => Seq(s"ops.${q}_s", s"ops.${q}_jobs")) ++
    Seq("host.calib_s", "host.steal_pct", "host.trace_overhead_pct")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("data"), m("work"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(WorkloadTables.contains(args.workload),
      s"unknown workload ${args.workload}")
    Host.calib() // warms the sentinel itself before any sample is kept
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.spark.GraftExtensions")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try new Run(spark, args).run()
    finally spark.stop()
    println(f"[${Host.sinceJvmStart()}%7.2f] session stopped")
  }
}

final class Run(spark: SparkSession, args: Args) {
  import Harness._

  private val sf = s"${args.data}/sf0.1"
  private val work = args.work
  private val tracer = new Tracer
  private val trace = new SparkTrace(spark.sparkContext)
  private var tracing = false
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private val oracle = mutable.LinkedHashMap.empty[String, (String, String)]
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  /** Durations of the named layer spans in the current pass (traced passes only). */
  private val layerTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def parquet(t: String): DataFrame = spark.read.parquet(s"$sf/$t.parquet")
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }
  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  /** Times `body` as a named layer span when the pass is traced. */
  private def layer[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val t0 = System.nanoTime()
      try tracer.span(name, "layer")(body)
      finally {
        layerTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      }
    }

  // --- SparkEntry operations (scan, pipeline) -----------------------------

  private val oracleSql = SparkEntry.oracleSql

  /** Row-count checks for the approximate tiers, which have no oracle. */
  private val approx: Map[String, Array[Row] => Option[String]] = Map(
    "q_cluster_assign" -> { rows =>
      val n = rows.map(_.getAs[Long]("n")).sum
      if (rows.nonEmpty && rows.length <= 8 && n == 2000) None
      else Some(s"${rows.length} clusters holding $n vectors, expected 1-8 holding 2000")
    })

  private def entryOp(q: String): Op = {
    val fn = SparkEntry.queries(q)
    Op(q, () => noop(fn(spark, sf)), () =>
      oracleSql.get(q) match {
        case Some(sql) =>
          val out = s"$work/out/$q"
          fn(spark, sf).write.mode("overwrite").parquet(out)
          oracle(q) = (out, sql)
          None
        case None =>
          approx.get(q) match {
            case Some(check) => check(fn(spark, sf).collect())
            case None => Some("no oracle and no row-count check")
          }
      })
  }

  private def fullScanOps: Seq[Op] = {
    val straw = () => spark.read.format("strawboat").load(Tables.strawDir(spark, sf, "lineitem"))
    val pq = () => parquet("lineitem")
    def check(df: DataFrame): Option[String] = {
      val (a, b) = (df.count(), parquet("lineitem").count())
      if (a == b) None else Some(s"$a rows, parquet has $b")
    }
    Seq(Op("scan_lineitem_strawboat", () => layer("scan.strawboat")(noop(straw())), () => check(straw())),
      Op("scan_lineitem_parquet", () => layer("scan.parquet")(noop(pq())), () => check(pq())))
  }

  private def convertAll(tables: Seq[String]): Unit = {
    Tables.invalidate(sf)
    val pool = Executors.newFixedThreadPool(Cores)
    try tables.map(t => pool.submit(new Callable[String] {
      def call(): String = Tables.strawDir(spark, sf, t)
    })).foreach(_.get())
    finally pool.shutdown()
  }

  // --- write operations (the write side, measured in traced scan runs) ------

  private var passDir: String = s"$work/write/warm"

  /** Order-insensitive fingerprint of a frame: row count and the sum of a
    * 64-bit hash of every row, over the columns of `cols` in that order. */
  private def fingerprint(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(cols.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  private def sameRows(what: String, got: DataFrame, expected: DataFrame): Option[String] = {
    val cols = expected.columns.toSeq
    val (a, b) = (fingerprint(got, cols), fingerprint(expected, cols))
    if (a == b) None else Some(s"$what: read-back ${a._1} rows differs from expected ${b._1} rows")
  }

  private def readBack(dir: String): Unit = {
    layer("dml.read_after")(noop(spark.read.format("strawboat").load(dir)))
    layer("log.snapshot")(require(StrawLog.snapshot(dir).isDefined, s"no log snapshot for $dir"))
  }

  private def docsCopy(name: String): String = {
    val dir = s"$passDir/$name"
    StrawBulkLoad.save(parquet("documents"), dir)
    dir
  }

  private def loadAll(root: String): Unit = {
    val pool = Executors.newFixedThreadPool(Cores)
    try Tables10.map(t => pool.submit(new Callable[Unit] {
      def call(): Unit = StrawBulkLoad.save(parquet(t), s"$root/$t")
    })).foreach(_.get())
    finally pool.shutdown()
  }

  private def mergeSource(mod: Int, shift: Long): DataFrame = {
    val docs = parquet("documents")
    docs.filter(col("doc_id") % mod === 0).withColumn("lang", lit("merged"))
      .unionByName(docs.filter(col("doc_id") % 17 === 0)
        .withColumn("doc_id", col("doc_id") + shift).withColumn("lang", lit("inserted")))
  }

  private def merged(mod: Int, shift: Long): DataFrame =
    parquet("documents").filter(col("doc_id") % mod =!= 0).unionByName(mergeSource(mod, shift))

  private def writeOps: Seq[Op] = {
    val short = Seq(LessThan("n_chars", 200L))
    def dml(name: String)(mutate: String => Unit)(expected: => DataFrame): Op = {
      def body(): String = {
        val dir = docsCopy(name)
        layer(s"dml.$name")(mutate(dir))
        readBack(dir)
        dir
      }
      Op(name, () => body(): Unit, () => {
        val dir = body()
        sameRows(name, spark.read.format("strawboat").load(dir), expected)
      })
    }
    Seq(
      Op("load", () => layer("write.load")(loadAll(s"$passDir/load")), () => {
        loadAll(s"$passDir/load")
        Tables10.par.flatMap(t => sameRows(s"load $t",
          spark.read.format("strawboat").load(s"$passDir/load/$t"), parquet(t))).headOption
      }),
      dml("delete") { dir =>
        require(StrawDelete.delete(spark, dir, short).deletedRows > 0, "delete matched nothing")
      }(parquet("documents").filter(!(col("n_chars") < 200))),
      dml("update") { dir =>
        require(StrawUpdate.update(spark, dir, short, Map("lang" -> "redacted"),
          useDeletionVectors = false).updatedRows > 0, "update matched nothing")
      }(parquet("documents").withColumn("lang",
        when(col("n_chars") < 200, lit("redacted")).otherwise(col("lang")))),
      dml("merge") { dir =>
        val r = StrawMerge.merge(spark, dir, mergeSource(10, 1000000L), keys = Seq("doc_id"))
        require(r.matchedRows > 0 && r.insertedRows > 0, s"merge: $r")
      }(merged(10, 1000000L)),
      dml("merge_large") { dir =>
        spark.conf.set(StrawMerge.BroadcastKeyBytesConf, "0")
        val r = try StrawMerge.merge(spark, dir, mergeSource(5, 2000000L), keys = Seq("doc_id"))
          finally spark.conf.unset(StrawMerge.BroadcastKeyBytesConf)
        require(r.distributedSource && r.matchedRows > 0, s"merge_large: $r")
      }(merged(5, 2000000L)), {
        // compaction of a fragmented copy: many small files, then one rewrite
        def body(): String = {
          val dir = s"$passDir/compact"
          parquet("documents").repartition(4).write.format("strawboat").mode("overwrite")
            .option("targetFileBytes", "16384").option("maxPageSize", "64").save(dir)
          val r = layer("dml.compact")(StrawCompaction.compact(spark, dir))
          require(r.outputFiles < r.inputFiles, s"compaction did not reduce files: $r")
          readBack(dir)
          dir
        }
        Op("compact", () => body(): Unit, () => {
          val dir = body()
          sameRows("compact", spark.read.format("strawboat").load(dir), parquet("documents"))
        })
      })
  }

  // --- passes -------------------------------------------------------------

  /** `cpu` is the process CPU time of the pass's operations less the JIT
    * compiler's, which a short run still spends; `jit` is the compiler's. */
  private final case class Pass(traced: Boolean, wall: Double, cpu: Double, jit: Double, gc: Double,
      calib: Double, steal: Double, ops: Map[String, Double], opSpans: Seq[(String, Span)],
      stats: Option[PassStats], footerLoads: Long, layers: Map[String, Seq[Double]])

  /** A progress line for jvm.log, stamped with seconds since JVM start. */
  private def say(msg: String): Unit = println(f"[${Host.sinceJvmStart()}%7.2f] $msg")

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  /** One pass outside the measured ones: with `check`, each operation's
    * checked run, else its timed run; `kind` names the pass in the log. */
  private def runWarm(ops: Seq[Op], kind: String, check: Boolean = false): Unit = {
    val times = ops.map { op =>
      attempted += 1
      val t0 = System.nanoTime()
      val err = try { if (check) op.warm() else { op.timed(); None } } catch {
        case e: Throwable => Some(describe(e))
      }
      err.foreach(m => failures += s"${op.name} ($kind pass): $m")
      f"${op.name}=${(System.nanoTime() - t0) / 1e9}%.2f"
    }
    say(s"$kind pass: ${times.mkString(" ")}")
  }

  private def runPass(ops: Seq[Op], p: Int, traced: Boolean, writing: Boolean = false): Pass = {
    val order = new scala.util.Random(args.seed * 1000003L + p).shuffle(ops)
    val sc = spark.sparkContext
    if (writing) {
      rm(new File(s"$work/write"))
      passDir = s"$work/write/p$p"
    }
    tracing = traced
    layerTimes.clear()
    if (traced) {
      sc.addSparkListener(trace)
      spark.listenerManager.register(trace)
      tracer.open(s"pass$p", "pass")
    }
    val gc0 = Host.gcMillis()
    val jiffies0 = Host.cpuJiffies()
    val loads0 = FooterCache.loads.get()
    val calibs = mutable.ArrayBuffer(Host.calib())
    val times = mutable.LinkedHashMap.empty[String, Double]
    val opSpans = mutable.ArrayBuffer.empty[(String, Span)]
    var cpu = 0L
    var jit = 0L
    order.foreach { op =>
      attempted += 1
      val opId = ops.indexOf(op)
      if (traced) {
        tracer.currentOp = opId
        sc.setLocalProperty(SparkTrace.OpProperty, op.name)
        tracer.open(op.name, "op")
      }
      val j0 = Host.jitMillis()
      val c0 = Host.cpuNanos()
      val t0 = System.nanoTime()
      try op.timed() catch {
        case e: Throwable => failures += s"${op.name} (pass $p): ${describe(e)}"
      }
      times(op.name) = (System.nanoTime() - t0) / 1e9
      cpu += Host.cpuNanos() - c0
      jit += Host.jitMillis() - j0
      if (traced) {
        opSpans += ((op.name, tracer.close()))
        sc.setLocalProperty(SparkTrace.OpProperty, null)
        tracer.currentOp = -1
      }
      calibs += Host.calib()
    }
    val stats = if (traced) {
      val st = trace.finishPass()
      tracer.close()
      sc.removeSparkListener(trace)
      spark.listenerManager.unregister(trace)
      Some(st)
    } else None
    tracing = false
    Pass(traced, times.values.sum, cpu / 1e9 - jit / 1e3, jit / 1e3,
      (Host.gcMillis() - gc0) / 1e3, calibs.max,
      Host.stealPct(jiffies0, Host.cpuJiffies()), times.toMap, opSpans.toSeq, stats,
      FooterCache.loads.get() - loads0, layerTimes.map { case (k, v) => k -> v.toSeq }.toMap)
  }

  /** Job and stage spans under their operation spans; returns jobs per op. */
  private def jobSpans(p: Pass): Map[String, Int] = {
    val st = p.stats.get
    val perOp = mutable.Map.empty[String, Int].withDefaultValue(0)
    st.jobRecords.foreach { case (id, s, e, prop) =>
      val owner = Option(prop).flatMap(n => p.opSpans.find(_._1 == n))
        .orElse(p.opSpans.find { case (_, o) => s * 1000000L >= o.start && s * 1000000L <= o.end })
      owner.foreach { case (name, o) =>
        perOp(name) += 1
        val job = tracer.add(o.id, s"job$id", "job", s * 1000000L, e * 1000000L, o.op)
        st.stageRecords.filter(_._2 == id).foreach { case (stage, _, ss, se) =>
          tracer.add(job, s"stage$stage", "stage", ss * 1000000L, se * 1000000L, o.op)
        }
      }
    }
    perOp.toMap
  }

  // --- the run --------------------------------------------------------------

  private def operations: Seq[Op] = args.workload match {
    case "scan" => ScanQueries.map(entryOp) ++ fullScanOps
    case "pipeline" => PipelineQueries.map(entryOp)
  }

  /** The workload's tables converted afresh: the program's cached
    * conversion, invalidated first. */
  private def prepare(): Unit = convertAll(WorkloadTables(args.workload))

  def run(): Unit = {
    val sessionReady = Host.sinceJvmStart()
    tracer.open("run", "run")
    new File(work).mkdirs()
    val ops = operations

    // not timed: the tables prepared, then a checking pass that runs every
    // operation once and checks its output, then settling passes that run
    // every operation as a measured pass would. They take the cold start,
    // the unsteady second executions and most of the JIT's work.
    say("session ready")
    prepare()
    say("prepared")
    runWarm(ops, "checking", check = true)
    (0 until SettlePasses).foreach(i => runWarm(ops, s"settling $i"))

    // measured passes: whole passes until the time is up, and at least
    // three, so that the median passes over one slow pass; a traced run
    // alternates traced and untraced passes
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    def more: Boolean = passes.size < 3 || System.nanoTime() < deadline
    var p = 0
    while (more) {
      passes += runPass(ops, p, traced = args.trace && p % 2 == 0)
      say(f"pass $p: ${passes.last.wall}%.2f s cpu ${passes.last.cpu}%.2f s (+ jit ${passes.last.jit}%.2f s) " +
        passes.last.ops.toSeq.sortBy(-_._2).map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
      p += 1
    }

    // timed set-up: the tables prepared afresh three times (the median
    // counts), then one warm-up pass that runs every operation and builds
    // its fixtures
    val prepares = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      prepare()
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    runWarm(ops, "warm-up")
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionReady + Stats.median(prepares) + warmS
    say(f"session $sessionReady%.2f s, preparations ${prepares.map(x => f"$x%.2f").mkString(" ")} s, warm-up pass $warmS%.2f s")

    val storedRatio = {
      val ts = WorkloadTables(args.workload)
      ts.map(t => dirBytes(new File(Tables.strawDir(spark, sf, t)))).sum.toDouble /
        ts.map(t => new File(s"$sf/$t.parquet").length).sum
    }

    if (!args.trace) {
      val med = (f: Pass => Double) => Stats.median(passes.map(f).toSeq)
      metrics("setup_s") = setupS
      metrics("pass_s") = med(_.wall)
      metrics("op_geomean_s") = Stats.geomean(ops.map(o => Stats.median(passes.map(_.ops(o.name)).toSeq)))
      metrics("cpu_s") = med(_.cpu)
      metrics("stored_bytes_ratio") = storedRatio
      metrics("live_heap_mb") = Host.liveHeapMb()
    } else traced(ops, passes.toSeq)
    say("metrics taken")
    tracer.close()
    if (args.trace) Files.writeString(Paths.get(work, "spans.json"), tracer.json)
    writeResult()
  }

  private def traced(ops: Seq[Op], passes: Seq[Pass]): Unit = {
    PerLayer.foreach(metrics(_) = 0.0)
    val tp = passes.filter(_.traced)
    val up = passes.filterNot(_.traced)
    val med = (f: Pass => Double) => Stats.median(tp.map(f))
    val opMed = (n: String) => Stats.median(tp.map(_.ops(n)))
    val jobs = tp.map(jobSpans)
    val st = (f: PassStats => Double) => Stats.median(tp.map(p => f(p.stats.get)))

    metrics("entry.plan_s") = st(_.planMs / 1e3)
    metrics("entry.jobs") = st(_.jobs.toDouble)
    metrics("entry.stages") = st(_.stages.toDouble)
    metrics("entry.tasks") = st(_.tasks.toDouble)
    metrics("entry.task_s") = st(_.taskMs / 1e3)
    metrics("entry.core_busy_ratio") = Stats.median(tp.map(p => p.stats.get.taskMs / 1e3 / (p.wall * Cores)))
    metrics("entry.driver_only_s") = Stats.median(tp.map { p =>
      val tasks = p.stats.get.taskIntervals.toSeq.map { case (s, e) => (s * 1000000L, e * 1000000L) }
      p.opSpans.map { case (_, o) => (o.end - o.start - SparkTrace.covered(tasks, o.start, o.end)) / 1e9 }.sum
    })
    metrics("entry.gc_s") = med(_.gc)
    metrics("entry.shuffle_mb") = st(_.shuffleBytes / 1e6)
    metrics("entry.spill_mb") = st(_.spillBytes / 1e6)
    metrics("entry.input_mb") = st(_.inputBytes / 1e6)
    metrics("host.calib_s") = med(_.calib)
    metrics("host.steal_pct") = med(_.steal)
    metrics("host.trace_overhead_pct") =
      if (up.isEmpty) 0.0
      else 100.0 * (med(_.wall) / Stats.median(up.map(_.wall)) - 1.0)
    metrics("spark.scan.footer_loads") = med(_.footerLoads.toDouble)

    val probe = new FormatProbe(args.seed, reps = 3, tracer)
    args.workload match {
      case "scan" =>
        (ScanQueries ++ FullScans).foreach(q => metrics(s"spark.op.${q}_s") = opMed(q))
        val rows = parquet("lineitem").count().toDouble
        metrics("spark.scan.rows_s") = rows / opMed("scan_lineitem_strawboat")
        metrics("spark.scan.parquet_ratio") = opMed("scan_lineitem_parquet") / opMed("scan_lineitem_strawboat")
        probe.codecs()
        probe.file(largestDataFile(Tables.strawDir(spark, sf, "lineitem")),
          new File(s"$sf/lineitem.parquet").length, s"$work/format")
        writeLayer()
      case "pipeline" =>
        PipelineQueries.foreach { q =>
          metrics(s"ops.${q}_s") = opMed(q)
          metrics(s"ops.${q}_jobs") = Stats.median(jobs.map(_.getOrElse(q, 0).toDouble))
        }
    }
    metrics ++= probe.metrics
    attempted += probe.attempted
    failures ++= probe.failures
  }

  /** The write side of the `spark` layer, measured in traced `scan` runs:
    * the write operations run once checked and once to settle, then in
    * three traced passes whose layer timers give the metrics. */
  private def writeLayer(): Unit = {
    val ops = writeOps
    rm(new File(s"$work/write"))
    passDir = s"$work/write/check"
    runWarm(ops, "write checking", check = true)
    passDir = s"$work/write/settle"
    runWarm(ops, "write settling")
    val tp = (0 until 3).map(p => runPass(ops, 1000 + p, traced = true, writing = true))
    tp.foreach(jobSpans)
    val layerMed = (n: String) => Stats.median(tp.map(_.layers.getOrElse(n, Nil).sum))
    val rows = Tables10.map(t => parquet(t).count()).sum.toDouble
    metrics("spark.write.rows_s") = rows / layerMed("write.load")
    // the same ten-table load, written as parquet, for the comparator
    val pqTimes = (0 until 2).map { i =>
      val root = s"$work/write/parquet$i"
      val t0 = System.nanoTime()
      tracer.span("write.parquet", "layer") {
        val pool = Executors.newFixedThreadPool(Cores)
        try Tables10.map(t => pool.submit(new Callable[Unit] {
          def call(): Unit = parquet(t).write.mode("overwrite").parquet(s"$root/$t")
        })).foreach(_.get())
        finally pool.shutdown()
      }
      (System.nanoTime() - t0) / 1e9
    }
    metrics("spark.write.parquet_ratio") = Stats.median(pqTimes) / layerMed("write.load")
    Seq("delete", "update", "merge", "merge_large", "compact").foreach { d =>
      metrics(s"spark.dml.${d}_s") = layerMed(s"dml.$d")
    }
    metrics("spark.dml.read_after_s") = layerMed("dml.read_after")
    metrics("spark.log.snapshot_ms") =
      1e3 * Stats.median(tp.flatMap(_.layers.getOrElse("log.snapshot", Nil)))
    say(f"write layer: load ${layerMed("write.load")}%.2f s, parquet ${Stats.median(pqTimes)}%.2f s")
  }

  private def largestDataFile(dir: String): String = {
    def files(f: File): Seq[File] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil // log, sidecars, markers
      else if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else Seq(f)
    files(new File(dir)).maxBy(_.length).getPath
  }

  private def writeResult(): Unit = {
    val m = metrics.map { case (k, v) => s""""${Json.esc(k)}":${Json.num(v)}""" }.mkString(",")
    val o = oracle.map { case (q, (dir, sql)) =>
      s"""{"name":"$q","dir":"${Json.esc(dir)}","sql":"${Json.esc(sql)}"}"""
    }.mkString(",")
    val f = failures.map(x => "\"" + Json.esc(x.take(300)) + "\"").mkString(",")
    val json = s"""{"attempted":$attempted,"failed":${failures.size},"failures":[$f],"oracle":[$o],"metrics":{$m}}"""
    Files.writeString(Paths.get(work, "result.json"), json + "\n")
  }
}
