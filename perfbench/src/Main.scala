package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types.StructType

/** The benchmark's JVM side: builds the session, times the workload's
  * operations in a closed loop (one client, each operation starts when the
  * previous one has finished) and writes a result record. The Python runner
  * generates the inputs before and checks the written results after.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --work DIR --cores C --sizes k=v,... [--corrupt OP:cold|OP:warm]
  */
object Main {

  /** Untraced warm passes a run makes at least, traced or not, whatever
    * `--seconds` says. */
  val MinWarmPasses = 2

  /** Row count and an order-insensitive checksum of a materialized result. */
  final case class Digest(rows: Long, sum: Long)

  final case class Timed(op: String, pass: Int, seconds: Double, ok: Boolean,
      error: String, traced: Boolean)

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  /** Mirrors the project's own measurement session (local[cores], one
    * shuffle partition per core, AQE on, wide AQE start, large codegen
    * cache); scratch and warehouse directories live under the work dir. */
  def buildSession(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "128")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The materializing action: every output row is produced (through
    * `toRdd`, so Catalyst cannot prune the projection) and folded into a
    * row count plus a sum of per-row Murmur3 hashes of the unsafe row. With
    * `keep`, the rows are also collected (the cold pass keeps them
    * as the reference output, so the check never runs the operation again;
    * every benchmark output is small). */
  def digest(df: DataFrame, keep: Boolean): (Digest, Array[InternalRow]) = {
    val schema: StructType = df.queryExecution.analyzed.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      val rows = ArrayBuffer[InternalRow]()
      var n = 0L
      var h = 0L
      it.foreach { r: InternalRow =>
        val u = proj(r)
        n += 1
        h += u.hashCode().toLong
        if (keep) rows += u.copy()
      }
      Iterator.single((n, h, rows.toArray))
    }.collect()
    (Digest(parts.map(_._1).sum, parts.map(_._2).sum), parts.flatMap(_._3))
  }

  /** Writes kept rows as parquet for the oracle comparison. */
  private def writeRows(spark: SparkSession, schema: StructType, rows: Array[InternalRow],
      path: String): Unit = {
    val de = ExpressionEncoder(RowEncoder.encoderFor(schema)).resolveAndBind().createDeserializer()
    spark.createDataFrame(rows.toSeq.map(r => de(r)).asJava, schema)
      .write.mode("overwrite").parquet(path)
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case o => o.children.flatMap(scans) ++ o.subqueries.flatMap(scans)
  }

  private def countFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.count(f => f.getFileName.toString.endsWith(".parquet")).toLong
      finally w.close()
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def vmHwmKb: Long = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload").get
    val seed = arg(args, "--seed").get.toLong
    val seconds = arg(args, "--seconds").get.toDouble
    val trace = arg(args, "--trace").contains("1")
    val data = arg(args, "--data").get
    val work = arg(args, "--work").get
    val cores = arg(args, "--cores").get.toInt
    val sizes = arg(args, "--sizes").get.split(",").map { kv =>
      val Array(k, v) = kv.split("="); k -> v.toLong }.toMap
    val corrupt = arg(args, "--corrupt").map(_.split(":") match { case Array(o, w) => (o, w) })

    // ---- set-up: JVM start to a session with every input table located
    val spark = buildSession(cores, work)
    val wl = Workloads(workload, spark, data, work, sizes, seed)
    wl.tables.foreach(t => spark.read.parquet(s"$data/$t").schema)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sc = spark.sparkContext

    val tracer = if (trace) Some(new Tracer) else None
    val fallbacks = if (trace) Some(new Tracer.FallbackCounter) else None
    fallbacks.foreach(_.install())
    val spans = ArrayBuffer[Span]()
    var spanId = 0
    def nextId(): Int = { spanId += 1; spanId }
    val traces = ArrayBuffer[(Int, OpTrace)]() // (pass, record)
    var opSeq = 0

    val expected = scala.collection.mutable.Map[String, Digest]()
    val timed = ArrayBuffer[Timed]()
    val passWall = ArrayBuffer[(Int, Double, Boolean)]() // (pass, seconds, traced)
    val layoutFiles = s"$work/layout"

    def corrupted(op: Op, pass: Int, df: DataFrame): DataFrame = corrupt match {
      case Some((o, when)) if o == op.name && ((when == "cold") == (pass == 0)) =>
        df.unionAll(df.limit(1))
      case _ => df
    }

    /** One operation: build (the library call), plan (force the physical
      * plan), exec (materialize + digest). Returns wall seconds and digest. */
    def runOp(op: Op, pass: Int, traced: Boolean)
        : (Double, Either[Throwable, (DataFrame, Digest, Array[InternalRow])]) = {
      opSeq += 1
      val seq = opSeq
      def tag(phase: String): Unit = {
        sc.setLocalProperty(Tracer.TagKey, if (traced) s"$seq:$phase" else null)
        tracer.foreach(_.currentTag = if (traced) s"$seq:$phase" else "")
      }
      val gc0 = gcMs
      val wall0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var marks = Vector(n0)
      val res = try {
        tag("build")
        val df = corrupted(op, pass, op.build())
        marks :+= System.nanoTime()
        tag("plan")
        df.queryExecution.executedPlan
        marks :+= System.nanoTime()
        tag("exec")
        val (d, rows) = digest(df, keep = pass == 0)
        marks :+= System.nanoTime()
        Right((df, d, rows))
      } catch {
        case scala.util.control.NonFatal(e) => Left(e)
      } finally tag(null)
      val secs = (System.nanoTime() - n0) / 1e9
      if (traced) tracer.foreach { t =>
        t.drain()
        t.currentTag = ""
        def ms(nanos: Long): Double = wall0 + (nanos - n0) / 1e6
        val root = Span(nextId(), seq, -1, op.name, ms(n0), ms(n0) + secs * 1000)
        spans += root
        val names = Seq("build", "plan", "exec")
        val phases = names.zip(marks.zip(marks.drop(1))).map { case (nm, (a, b)) =>
          nm -> Span(nextId(), seq, root.id, nm, ms(a), ms(b))
        }.toMap
        spans ++= phases.values
        if (phases.contains("build")) {
          val (catalyst, files) = res match {
            case Right((df, _, _)) =>
              val ph = df.queryExecution.tracker.phases.map { case (k, v) =>
                k -> v.durationMs.toDouble }
              val fr = if (op.name == "layout_probe") {
                val total = countFiles(layoutFiles).toDouble
                scans(df.queryExecution.executedPlan).map { s =>
                  s.metrics.get("numFiles").map(_.value.toDouble).getOrElse(0.0) /
                    math.max(total, 1.0)
                }
              } else Nil
              (ph, fr)
            case Left(_) => (Map.empty[String, Double], Nil)
          }
          traces += pass -> OpTrace.of(t, seq, op, phases, spans, () => nextId(),
            (gcMs - gc0) / 1000.0, catalyst, files)
        }
      }
      (secs, res)
    }

    // The cold pass keeps the workload's listed order: whichever operation
    // runs first pays the JVM's first-use costs, so a seeded cold order
    // would move cost between operations from seed to seed. Warm passes
    // run in seeded orders.
    def order(pass: Int): Seq[Op] = {
      val shuffled =
        if (pass == 0) wl.ops else new scala.util.Random(seed * 1000003L + pass).shuffle(wl.ops)
      // a probe reads the layout its pass wrote: keep the write first
      val (probe, rest) = shuffled.partition(_.name == "layout_probe")
      rest.flatMap(o => if (o.name == "layout_write") o +: probe else Seq(o))
    }

    def runPass(pass: Int, traced: Boolean): Unit = {
      val p0 = System.nanoTime()
      order(pass).foreach { op =>
        val (secs, res) = runOp(op, pass, traced)
        val (ok, err) = res match {
          case Left(e) => (false, s"${e.getClass.getName}: ${e.getMessage}".take(500))
          case Right((df, d, rows)) if pass == 0 =>
            expected(op.name) = d
            // reference output for the oracle comparison, untimed
            try {
              writeRows(spark, df.queryExecution.analyzed.schema, rows, s"$work/out/${op.name}")
              (true, "")
            } catch {
              case scala.util.control.NonFatal(e) =>
                (false, s"reference write: ${e.getClass.getName}: ${e.getMessage}".take(500))
            }
          case Right((_, d, _)) =>
            expected.get(op.name) match {
              case Some(x) if x == d => (true, "")
              case Some(x) => (false, s"digest mismatch: expected $x, got $d")
              case None => (false, "no reference digest (cold run failed)")
            }
        }
        timed += Timed(op.name, pass, secs, ok, err, traced)
        System.err.println(f"[graftbench] pass $pass ${op.name} $secs%.3f s ok=$ok")
      }
      passWall += ((pass, (System.nanoTime() - p0) / 1e9, traced))
    }

    if (trace) sc.addSparkListener(tracer.get)
    val cc0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    runPass(0, traced = trace)
    val cc1 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val coldCompiles = cc1.getCount - cc0
    val coldCompileS = coldCompiles * cc1.getSnapshot.getMean / 1000.0
    val fallbacksCold = fallbacks.map(_.count.get).getOrElse(0L)
    // the measured window: warm passes until `seconds` have passed (the
    // last pass finishes) and at least MinWarmPasses untraced ones are done;
    // traced runs alternate untraced and traced passes as U T U (at least
    // one traced), so the untraced passes bracket the traced one and a JIT
    // still warming up over the first passes weighs on both alike
    var pass = 1
    val window0 = System.nanoTime()
    def elapsed = (System.nanoTime() - window0) / 1e9
    def done(traced: Boolean) = passWall.count(p => p._1 > 0 && p._3 == traced)
    while (elapsed < seconds || done(false) < MinWarmPasses || (trace && done(true) < 1)) {
      runPass(pass, traced = trace && pass % 2 == 0)
      pass += 1
    }

    // ---- end-to-end metrics (untraced warm passes only)
    val warm = timed.filter(t => t.pass > 0 && !t.traced)
    val warmTimes = warm.filter(_.ok).map(_.seconds).toSeq
    val warmPasses = passWall.filter(p => p._1 > 0 && !p._3).map(_._2).toSeq
    val tracedPasses = passWall.filter(p => p._1 > 0 && p._3).map(_._2).toSeq
    val coldS = timed.filter(_.pass == 0).map(_.seconds).sum
    val rowsPerS = wl.statedRows / OpTrace.median(warmPasses)
    val failed = timed.count(!_.ok)

    def num(x: Double): String =
      if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

    val e2e = Seq(
      "setup_s" -> setupS,
      "cold_pass_s" -> coldS,
      "rows_per_s" -> rowsPerS,
      "op_p50_s" -> OpTrace.median(warmTimes),
      "peak_rss_mb" -> vmHwmKb / 1024.0)

    // ---- per-layer metrics: means per traced warm operation
    val layer: Seq[(String, Double)] = tracer.map { t =>
      val warmT = traces.filter(_._1 > 0).map(_._2).toSeq
      def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      def of(l: String) = warmT.filter(_.layer == l)
      val layerBuild = Seq("operators", "functions", "streaming").flatMap { l =>
        Seq(s"$l.build_s" -> mean(of(l).map(_.buildSelfS)),
          s"$l.build_jobs" -> mean(of(l).map(_.buildJobs.toDouble)))
      }
      val writes = warmT.filter(_.op == "layout_write")
      val probes = warmT.flatMap(_.filesReadFrac)
      val shuffled = warmT.map(_.shuffleRecords).sum.toDouble
      val scanned = warmT.map(_.scanRecords).sum.toDouble
      val pairs = warmT.filter(_.op == "join_auto_agg")
      val batches = warmT.flatMap(_.batchMs).map(_.toDouble)
      val untracedRate = wl.statedRows / OpTrace.median(warmPasses)
      val tracedRate = wl.statedRows / OpTrace.median(tracedPasses)
      layerBuild ++ Seq(
        "sources.write_s" -> mean(writes.map(_.buildS)),
        "sources.bytes_written" -> mean(writes.map(_.bytesWritten.toDouble)),
        "sources.files_read_frac" -> mean(probes),
        "catalyst.analysis_ms" -> mean(warmT.map(_.analysisMs)),
        "catalyst.optimization_ms" -> mean(warmT.map(_.optimizationMs)),
        "catalyst.planning_ms" -> mean(warmT.map(_.planningMs)),
        "scheduler.jobs" -> mean(warmT.map(_.jobs.toDouble)),
        "scheduler.stages" -> mean(warmT.map(_.stages.toDouble)),
        "scheduler.tasks" -> mean(warmT.map(_.tasks.toDouble)),
        "scheduler.task_busy_s" -> mean(warmT.map(_.taskBusyS)),
        "scheduler.task_wait_s" -> mean(warmT.map(_.taskWaitS)),
        "scheduler.stage_skew" -> mean(warmT.map(_.stageSkew)),
        "shuffle.write_bytes" -> mean(warmT.map(_.shuffleWriteBytes.toDouble)),
        "shuffle.read_bytes" -> mean(warmT.map(_.shuffleReadBytes.toDouble)),
        "shuffle.fetch_wait_s" -> mean(warmT.map(_.fetchWaitS)),
        "shuffle.records_per_input_row" -> (if (scanned > 0) shuffled / scanned else 0.0),
        "operators.join_shuffle_records" -> mean(pairs.map(_.shuffleRecords.toDouble)),
        "memory.spill_bytes" -> mean(warmT.map(_.spillBytes.toDouble)),
        "memory.peak_exec_bytes" -> warmT.map(_.peakExecBytes.toDouble).foldLeft(0.0)(math.max),
        "scan.bytes_read" -> mean(warmT.map(_.scanBytes.toDouble)),
        "scan.records_read" -> mean(warmT.map(_.scanRecords.toDouble)),
        "jvm.gc_s" -> mean(warmT.map(_.gcS)),
        "jvm.codegen_compile_s" -> coldCompileS,
        "jvm.codegen_compiles" -> coldCompiles.toDouble,
        "jvm.codegen_fallbacks" -> (fallbacks.get.count.get - fallbacksCold).toDouble /
          math.max(1, passWall.count(_._1 > 0)),
        "streaming.batches" -> mean(of("streaming").map(_.batches.toDouble)),
        "streaming.batch_ms_p50" -> OpTrace.median(batches),
        "streaming.state_commit_ms" -> mean(of("streaming").map(_.stateCommitMs.toDouble)),
        "streaming.state_rows" -> mean(of("streaming").map(_.stateRows.toDouble)),
        "trace.overhead_frac" -> (if (untracedRate > 0) (untracedRate - tracedRate) / untracedRate else 0.0))
    }.getOrElse(Nil)

    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
    val opsJson = timed.map { t =>
      obj(Seq("op" -> str(t.op), "pass" -> t.pass.toString, "s" -> num(t.seconds),
        "ok" -> t.ok.toString, "traced" -> t.traced.toString) ++
        (if (t.error.nonEmpty) Seq("error" -> str(t.error)) else Nil))
    }
    val record = obj(Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "trace" -> trace.toString,
      "cores" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_conf" -> obj(conf.map { case (k, v) => k -> str(v) }),
      "stated_rows" -> wl.statedRows.toString,
      "setup_s" -> num(setupS),
      "passes" -> pass.toString,
      "warm_samples" -> warmTimes.size.toString,
      "attempted" -> timed.size.toString, "failed" -> failed.toString,
      "end_to_end" -> obj(e2e.map { case (k, v) => k -> num(v) }),
      "per_layer" -> obj(layer.map { case (k, v) => k -> num(v) }),
      "oracle" -> obj(wl.ops.map(o => o.name -> str(o.oracleSql))),
      "ops" -> opsJson.mkString("[", ",", "]")))
    Files.createDirectories(Paths.get(work))
    Files.writeString(Paths.get(s"$work/result.json"), record)
    if (trace) {
      val sp = spans.map(s => obj(Seq("id" -> s.id.toString, "op" -> s.op.toString,
        "parent" -> s.parent.toString, "name" -> str(s.name),
        "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs))))
      val tr = traces.map { case (p, t) => obj(Seq("pass" -> p.toString, "op" -> str(t.op),
        "build_self_s" -> num(t.buildSelfS), "build_jobs" -> t.buildJobs.toString,
        "jobs" -> t.jobs.toString, "stages" -> t.stages.toString, "tasks" -> t.tasks.toString,
        "shuffle_records" -> t.shuffleRecords.toString)) }
      Files.writeString(Paths.get(s"$work/trace.json"),
        obj(Seq("spans" -> sp.mkString("[", ",", "]"), "ops" -> tr.mkString("[", ",", "]"))))
    }
    spark.stop()
  }
}
