package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ExecutionException, FutureTask, TimeUnit, TimeoutException}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** One unit of work: `construct` is the call into the program (for a query,
  * `fn(spark, dir)`, which may run eager checkpoints and writes), `action`
  * forces and checks its result. A failed check returns its reason. */
final case class Op(name: String, family: String,
                    construct: SparkSession => AnyRef,
                    action: AnyRef => Either[String, String])

/** What one op left behind; the layer fields are filled on traced runs. */
final case class OpRecord(name: String, family: String,
                          t0: Double, t1: Double, t2: Double,
                          error: Option[String], check: String,
                          layers: Map[String, Double], spans: Seq[Span])

/** The benchmark's JVM side. It sets the workload up several times, runs
  * the workload's iterations, checks every output and writes one raw
  * JSON record for `run.py`, which derives the metrics.
  *
  * A run measures a fixed number of iterations, sized to last about the
  * benchmark's run time on four cores, and not as many as fit in it: an
  * iteration more of `session` would find the program's memos and the
  * generated-code cache warm, and would not be comparable with the first.
  *
  * Usage: perfbench.Main <workload> <seed> <trace 0|1> <cpus>
  *          <work dir> <data dir> <digest file> <out file> [record]
  * With `record`, the digest file is written from this run's outputs
  * instead of being checked against. */
object Main {

  val SetupRepeats = 3
  /** An op over this wall time is cancelled and counted failed. */
  val OpBudgetMs = 60000L

  // epoch milliseconds with nanosecond resolution, comparable with the
  // millisecond timestamps Spark puts on jobs, stages and planning phases
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the program's runners keep object aggregation hash-based
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.ext.CapMetrics.register(s)
    s
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, traceS, cpusS, workS, data, digestFile, out) = argv.take(8)
    val record = argv.length > 8 && argv(8) == "record"
    val (seed, trace, cpus) = (seedS.toLong, traceS == "1", cpusS.toInt)
    val work = Paths.get(workS).toAbsolutePath
    Files.createDirectories(work)
    val w = Workloads(workload, seed, work, data, digestFile, record)

    // set-up, several times; the first one counts from JVM start
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark: SparkSession = null
    val setupMs = (0 until SetupRepeats).map { i =>
      val t = if (i == 0) jvmStart else nowMs
      if (spark != null) spark.stop()
      spark = session(cpus, work)
      w.setUp(spark)
      nowMs - t
    }
    val inputsSame = w.inputChecksums.distinct.size <= 1

    val probe = if (trace) Some(new Probe) else None
    val heap = probe.map(_ => new HeapWatch)
    probe.foreach { p =>
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    }
    val sc = spark.sparkContext
    val records = Vector.newBuilder[OpRecord]
    val anchors = Vector.newBuilder[Double]
    def anchor(): Unit = anchors += timeAnchor(spark)

    def runOp(op: Op): OpRecord = {
      val before = probe.map(p => (p.counters, CodeGenerator.compileTime,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount, sc.getPersistentRDDs.keySet))
      val marks = Array(0.0, 0.0, 0.0)
      val group = s"perfbench-${op.name}"
      val task = new FutureTask[Either[String, String]](() => {
        sc.setJobGroup(group, op.name, interruptOnCancel = true)
        marks(0) = nowMs
        val r = op.construct(spark)
        marks(1) = nowMs
        val c = op.action(r)
        marks(2) = nowMs
        c
      })
      val th = new Thread(task, s"op-${op.name}")
      th.setDaemon(true)
      th.start()
      val started = nowMs
      val result: Either[String, String] =
        try task.get(OpBudgetMs, TimeUnit.MILLISECONDS)
        catch {
          case _: TimeoutException =>
            sc.cancelJobGroup(group)
            sc.cancelAllJobs()
            th.interrupt()
            Left(s"timeout after ${OpBudgetMs} ms")
          case e: ExecutionException =>
            sc.cancelJobGroup(group)
            Left(s"${e.getCause.getClass.getName}: ${String.valueOf(e.getCause.getMessage).take(300)}")
        }
      val end = nowMs
      if (marks(0) == 0.0) marks(0) = started
      if (marks(1) == 0.0) marks(1) = end
      if (marks(2) == 0.0) marks(2) = end
      val (check, error) = result match {
        case Right(c) => (c, None)
        case Left(e) => ("failed", Some(e))
      }
      val (layers, spans) = probe.zip(before) match {
        case None => (Map.empty[String, Double], Seq.empty[Span])
        case Some((p, (counters0, compile0, classes0, rdds0))) =>
          org.apache.spark.PerfbenchBus.drain(sc)
          val d = p.counters.zip(counters0).map { case (a, b) => (a - b).toDouble }
          val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
          val persisted = sc.getPersistentRDDs.keySet
          val m = Map(
            "task_ms" -> d(0), "gc_ms" -> d(1), "n_tasks" -> d(2), "n_jobs" -> d(3),
            "shuffle_write_b" -> d(4), "spill_b" -> d(5), "input_b" -> d(6),
            "codegen_ms" -> (CodeGenerator.compileTime - compile0) / 1e6,
            "codegen_classes" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble,
            "storage_b" -> storage.toDouble,
            "persisted_rdds" -> persisted.size.toDouble,
            "new_persisted" -> (persisted -- rdds0).size.toDouble)
          (m, p.takeSpans())
      }
      OpRecord(op.name, op.family, marks(0), marks(1), marks(2),
               error, check, layers, spans)
    }

    // the measured phase: the workload's iterations, with the anchor
    // re-timed before them, halfway through their ops (not counted in the
    // iteration's wall) and after them
    val iterations = w.iterations
    val nOps = iterations.map(_.size).sum
    anchor()
    heap.foreach(_.reset())
    var done = 0
    val iterationMs = iterations.map { ops =>
      val start = nowMs
      var paused = 0.0
      ops.foreach { op =>
        if (done == nOps / 2) {
          val a = nowMs
          anchor()
          paused += nowMs - a
        }
        records += runOp(op)
        done += 1
      }
      nowMs - start - paused
    }
    val heapPeak = heap.map(_.peakBytes)
    // the live heap the iterations leave: the least in use after three
    // full collections, half a second apart, so that blocks Spark's
    // cleaner frees after the first one are not counted
    val heapLive = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(500)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }.min
    anchor()
    heap.foreach(_.close())

    if (record) Workloads.writeDigests(digestFile, w.digests, w.rowsOnly)
    val recs = records.result()
    val json = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "trace" -> trace.toString,
      "setup_ms" -> Json.arr(setupMs.map(Json.num)),
      "inputs_identical" -> inputsSame.toString,
      "input_checksums" -> Json.arr(w.inputChecksums.map(Json.str)),
      "iteration_ms" -> Json.arr(iterationMs.map(Json.num)),
      "heap_live_peak_b" -> heapPeak.fold("null")(_.toString),
      "heap_live_b" -> heapLive.toString,
      "anchor_ms" -> Json.arr(anchors.result().map(Json.num)),
      "ops" -> Json.arr(recs.map(opJson)))
    Files.writeString(Paths.get(out), json)
    spark.stop()
    System.exit(0)
  }

  /** A fixed cheap Spark job, timed to show the host's load; its generated
    * code is compiled once, at the first set-up. */
  def timeAnchor(spark: SparkSession): Double = {
    val t = nowMs
    spark.range(0L, 4000000L, 1L, 4).selectExpr("sum(id * 7 % 13)").collect()
    nowMs - t
  }

  private def opJson(r: OpRecord): String = Json.obj(
    "name" -> Json.str(r.name), "family" -> Json.str(r.family),
    "t0" -> Json.num(r.t0), "t1" -> Json.num(r.t1), "t2" -> Json.num(r.t2),
    "error" -> r.error.map(Json.str).getOrElse("null"),
    "check" -> Json.str(r.check),
    "layers" -> Json.obj(r.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
    "spans" -> Json.arr(r.spans.map(s => Json.arr(Seq(Json.str(s.layer), Json.num(s.start), Json.num(s.end))))))
}

/** Just enough JSON writing for the raw record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
