package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of one workload: one client, one process, the
  * session `graft.Main` builds. Prints every metric by name with its unit
  * and, as the last line, the JSON result.
  *
  *   perfbench.Main --workload <name> --seed <n> --trace <0|1>
  *                  --root <checkout> --deadline-ms <epoch ms>
  *                  --metrics <name=unit;...> --launch-ms <epoch ms>
  *   perfbench.Main --setup-only 1 --launch-ms <epoch ms>
  */
object Main {

  /** Exactly the session `graft.Main` builds (AQE, skew join, UTC,
    * local[*]); spark.ui.enabled=false and the time zone also arrive as
    * JVM properties, as with the build's `run` task. */
  def session(master: String = "local[*]"): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .master(master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Loads every scorer model (lazy object state) with one call each. */
  def loadModels(): Unit = {
    val t = "The quick brown fox jumps over the lazy dog near the river bank."
    graft.functions.FusedScorer.score(
      org.apache.spark.unsafe.types.UTF8String.fromString(t), true)
    graft.functions.QualityModel.score(t)
  }

  /** Heap in use right after a full collection, in bytes. */
  def liveHeapBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum / 1e3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val launchMs = a("launch-ms").toLong
    if (args.contains("--setup-only")) {
      val jvmMs = ManagementFactory.getRuntimeMXBean.getStartTime - launchMs
      val t0 = System.currentTimeMillis()
      session()
      val t1 = System.currentTimeMillis()
      loadModels()
      val t2 = System.currentTimeMillis()
      println(s"SETUP_S ${(t2 - launchMs) / 1e3} jvm_ms=$jvmMs " +
        s"session_ms=${t1 - t0} models_ms=${t2 - t1}")
      return
    }
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val root = Paths.get(a("root"))
    val deadlineMs = a("deadline-ms").toLong
    // (name, unit) of every metric this run reports, as BENCHMARK.json
    // declares them
    val declared = a("metrics").split(";").toSeq.map { nu =>
      val i = nu.lastIndexOf('=')
      nu.take(i) -> nu.drop(i + 1)
    }
    val w = Workloads(workload)

    var spark = session()
    loadModels()
    val sessionDesc = s"local[*] = ${spark.sparkContext.defaultParallelism} " +
      s"cores; spark.sql.shuffle.partitions=" +
      s"${spark.conf.get("spark.sql.shuffle.partitions")}; jvm " +
      ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(s => s.startsWith("-Xm") || s.startsWith("-XX")).mkString(" ")
    // this JVM's own set-up sample; run.py reports setup_s
    println(s"SETUP_S ${(System.currentTimeMillis() - launchMs) / 1e3}")
    val stampBefore = HostStamp()

    val tracer = new Tracer(s"$workload-$seed-trace$trace")
    val bench = root.resolve("perfbench")
    val inputs = inputsOf(bench, workload, seed)
    val work = bench.resolve(s"work/run-$workload")
    Files2.rmrf(work)
    Files.createDirectories(work)
    val genS = {
      val t0 = System.nanoTime()
      tracer.span("generate") {
        Gen.ensure(spark, bench.resolve("texts"), inputs, workload, seed)
      }
      (System.nanoTime() - t0) / 1e9
    }
    println(f"generate_s $genS%.3f")
    var c = new Ctx(spark, inputs, work)
    tracer.span("prepare") { w.prepare(c) }

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    def checked(k: Int): Unit = {
      attempted += 1
      val f = try w.check(c, k) catch {
        case e: Exception => Seq(s"op $k: output check threw $e") }
      if (f.nonEmpty) failures ++= f.map(m => s"op $k: $m")
      w.cleanup(c, k)
    }
    // wall seconds of each operation's whole cycle: the operation, its
    // listener drain, its output check and the full GC after it
    val cycles = mutable.ArrayBuffer.empty[Double]
    def cycle(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      cycles += (System.nanoTime() - t0) / 1e9
    }

    var k = 0
    def warmup(): Unit = {
      cycle { tracer.span(s"warmup$k") { w.op(c, k) }; checked(k); liveHeapBytes() }
      k += 1
    }
    (0 until w.warmupOps).foreach(_ => warmup())

    // The traced run's per-layer phase runs before the window, so that the
    // warm-up after it can fill the run up to its deadline. The scaling
    // reading stops the session, so a new one is built after it.
    val probe = new Layers.Probe
    if (trace) {
      tracer.span("layers") { layerPhase(c, w, seed, bench, probe, tracer) }
      tracer.span("scale") {
        probe.set("spark.scale_eff_1to4",
          Scale.filterOneToFour(spark, inputsOf(bench, "filter_bulk", seed)))
      }
      spark = session()
      c = new Ctx(spark, inputs, work)
      w.prepare(c)
    }

    // A traced run fills its length with more warm-up operations, as long as
    // the window's operations at a typical cycle (median of the last three)
    // still end by the deadline. An untraced run keeps its window at the
    // same place in the JVM's warm-up whatever the host's speed, so that
    // op_p50_s compares across runs; run.py fills the rest of its length
    // with set-up samples.
    def fits(ops: Int) = System.currentTimeMillis() +
      1e3 * Stats.median(cycles.takeRight(3).toSeq).get * ops <= deadlineMs
    if (trace) while (fits(w.windowOps + 1)) warmup()
    val firstTimed = k

    // Timed window: `windowOps` operations back to back, one client. Output
    // checks and a full GC that reads the live heap follow each operation
    // with the op clock stopped. In the traced run every other operation
    // carries a listener. Once the run is past its deadline (a traced run:
    // once the next operation would end past it), the window stops early if
    // it holds `minWindowOps`, so a slow host lengthens a run only so far.
    val minWindowOps = math.max(3, w.windowOps / 2)
    def another: Boolean = {
      val n = k - firstTimed
      n < w.windowOps && (n < minWindowOps ||
        (if (trace) fits(1) else System.currentTimeMillis() <= deadlineMs))
    }
    var liveHeapPeak = 0L
    val walls = mutable.ArrayBuffer.empty[Double]
    val untracedWalls = mutable.ArrayBuffer.empty[Double]
    val opBytes = mutable.ArrayBuffer.empty[Double]
    // listener, op wall, GC seconds of the op and of the full GC after it
    val traced = mutable.ArrayBuffer.empty[(OpListener, Double, Double)]
    var items = 0L
    var window = 0.0
    while (another) cycle {
      val listener =
        if (trace && (k - firstTimed) % 2 == 0) Some(new OpListener(w.module))
        else None
      listener.foreach(spark.sparkContext.addSparkListener)
      val gc0 = gcSeconds
      val t0 = System.nanoTime()
      val n = tracer.span(s"op$k") { w.op(c, k) }
      val wall = (System.nanoTime() - t0) / 1e9
      val opGc = gcSeconds - gc0
      listener.foreach { l =>
        tracer.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
        tracer.stages(s"op$k", l)
      }
      walls += wall
      window += wall
      items += n
      if (trace) opBytes += w.committedBytes(c, k).toDouble
      checked(k)
      val gc1 = gcSeconds
      liveHeapPeak = math.max(liveHeapPeak, liveHeapBytes())
      val fullGc = gcSeconds - gc1
      listener match {
        case Some(l) => traced += ((l, wall, opGc + fullGc))
        case None    => untracedWalls += wall
      }
      k += 1
    }
    val slackS = (deadlineMs - System.currentTimeMillis()) / 1e3

    if (trace) {
      probe.set("sources.write_bytes", Stats.median(opBytes.toSeq).get)
      listenerMetrics(c, w, probe, traced.toSeq, walls.toSeq,
        untracedWalls.toSeq, tracer)
    }
    val stampAfter = HostStamp()
    tracer.write(work.resolve("trace.jsonl"))

    // ---- report ------------------------------------------------------
    val p50 = Stats.median(walls.toSeq).get
    val values: collection.Map[String, Double] =
      if (trace) probe.values
      else Map(
        "op_p50_s" -> p50,
        "items_per_s" -> items / window,
        "live_heap_peak_mb" -> liveHeapPeak / 1048576.0)
    val undeclared = values.keySet -- declared.map(_._1)
    require(undeclared.isEmpty,
      s"metrics not declared in BENCHMARK.json: ${undeclared.mkString(", ")}")
    val unmeasured = declared.map(_._1).filterNot(n =>
      values.get(n).exists(v => !v.isNaN && !v.isInfinite))
    require(unmeasured.isEmpty,
      s"declared metrics without a finite value: ${unmeasured.mkString(", ")}")

    println(s"workload $workload seed $seed trace ${if (trace) 1 else 0}")
    println(s"session $sessionDesc")
    println(s"host before: $stampBefore")
    println(s"host after:  $stampAfter")
    val tail = Stats.tail(walls.toSeq)
      .map { case (n, v) => f" $n=$v%.4f" }.getOrElse("")
    val slack = if (trace) f" (window ended $slackS%.1f s before the deadline)"
                else ""
    println(f"warm-up ops $firstTimed; ops ${walls.size} in window " +
      f"$window%.3f s$slack; op_p50_s $p50%.4f s " +
      f"(n=${walls.size})$tail")
    val reported = declared.map { case (n, u) => (n, values(n), u) }
    reported.foreach { case (n, v, u) => println(f"$n $v%.6g $u") }
    println(s"digest ${w.digest}")
    failures.foreach(f => println(s"FAILED $f"))
    val failedOps = failures.map(_.takeWhile(_ != ':')).distinct.size
    val metrics = reported.map { case (n, v, u) =>
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failedOps, "metrics": {$metrics}}""")
    SparkSession.getActiveSession.foreach(_.stop())
    if (failures.nonEmpty) sys.exit(1)
  }

  def inputsOf(bench: Path, workload: String, seed: Long): Path =
    bench.resolve(s"work/inputs/$workload-$seed")

  /** The traced run's per-layer measurements that need no listener. Every
    * traced run measures every layer: the layers the other workload
    * exercises are measured on that workload's inputs of the same seed,
    * generated here if they are not cached. */
  private def layerPhase(c: Ctx, w: Workload, seed: Long, bench: Path,
                         r: Layers.Probe, tracer: Tracer): Unit =
    Workloads.names.foreach { name =>
      val (x, xc) =
        if (name == w.name) (w, c)
        else {
          val o = Workloads(name)
          val oc = new Ctx(c.spark, inputsOf(bench, name, seed),
            c.work.resolve(name))
          tracer.span(s"generate.$name") {
            Gen.ensure(c.spark, bench.resolve("texts"), oc.inputs, name, seed)
          }
          o.prepare(oc)
          (o, oc)
        }
      tracer.span(s"$name.layers") { x.layers(xc, r) }
    }

  /** The traced run's per-layer metrics read from the window's listeners
    * (traced operations) and op walls (all of them). */
  private def listenerMetrics(c: Ctx, w: Workload, r: Layers.Probe,
                              ls: Seq[(OpListener, Double, Double)],
                              walls: Seq[Double], untraced: Seq[Double],
                              tracer: Tracer): Unit = {
    val cores = c.spark.sparkContext.defaultParallelism
    def med(f: ((OpListener, Double, Double)) => Double): Double =
      Stats.median(ls.map(f)).get
    r.set("spark.jobs_per_op", med(_._1.jobs.toDouble))
    r.set("spark.stages_per_op", med(_._1.stages.toDouble))
    r.set("spark.tasks_per_op", med(_._1.tasks.toDouble))
    r.set("spark.driver_gap_s", med(x => x._2 - x._1.jobUnionS))
    r.set("spark.core_busy_share", med(x => x._1.execRunMs / 1e3 / (x._2 * cores)))
    r.set("spark.task_skew", med(_._1.taskSkew))
    r.set("spark.shuffle_write_bytes", med(_._1.shuffleWrite.toDouble))
    r.set("spark.spill_bytes", med(_._1.spill.toDouble))
    r.set("spark.gc_s", med(_._3))
    r.set("spark.peak_exec_mem_mb", med(_._1.peakExecMem / 1048576.0))
    r.set("spark.exec_s", med(_._1.execRunMs / 1e3))
    r.set("spark.listener_drain_misses", tracer.drainMisses.toDouble)
    r.set("trace.overhead_s",
      Stats.median(ls.map(_._2)).get - Stats.median(untraced).get)
    r.set("functions.op_share", w.textDocsPerOp /
      r.values("functions.fused_docs_per_s") / (Stats.median(walls).get * cores))
  }
}

/** The north rule's N->4N reading on one box: the filter_bulk operation
  * (into noop) at local[1] against local[4] on the same shard. */
object Scale {
  /** Stops `spark`; leaves no session running. */
  def filterOneToFour(spark: SparkSession, filterInputs: Path): Double = {
    val path = filterInputs.resolve("pages/shard=0").toString
    spark.stop()
    def timed(master: String): Double = {
      val s = Main.session(master)
      val t0 = System.nanoTime()
      graft.operators.QualityFilter.run(s.read.parquet(path))
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      s.stop()
      t
    }
    val t1 = timed("local[1]")
    val t4 = timed("local[4]")
    t1 / (4 * t4)
  }
}
