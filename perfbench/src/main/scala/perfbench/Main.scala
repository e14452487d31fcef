package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark entry point: one workload, one JVM, `local[nproc]`, one client in a
  * closed loop. Writes the run record as JSON to `--out`; `run.py` adds the
  * DuckDB check and prints the result line.
  *
  * {{{
  * Main --workload release|stream|intake --seed N --seconds S --trace 0|1
  *      --work DIR --out FILE
  * Main --selftest --work DIR --out FILE
  * }}}
  */
object Main {

  /** Input sizes, chosen so a whole run stays within about 45 s on a 4-core
    * host: a release pass takes about 4 s, a micro-batch about 8 s, a
    * submission about 1.5 s. */
  val releaseBaseDocs = 120
  val streamSizes = (80, 2, 10, 8) // standing docs, batches, docs per batch, purged
  val intakeSizes = IntakeSizes(panelLoci = 2500, laserIndiv = 100,
    laserLoci = 500, traceIndiv = 200, traceLoci = 800, vcfFiles = 4, pool = 8)

  def main(args: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = new File(opts("work"))
    val out = new File(opts("out"))
    if (args.contains("--selftest")) {
      val code = selftest(work, out)
      sys.exit(code)
    }
    val probes0 = Host.probe()
    val spark = Host.session(work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3 - probes0.probeSec
    val record = try run(spark, opts, work, sessionS, probes0)
      finally spark.stop()
    java.nio.file.Files.writeString(out.toPath, Stats.json(record))
  }

  private def workload(name: String, spark: SparkSession, seed: Long,
      tracer: Option[Tracer]): Workload = name match {
    case "release" => new ReleaseWorkload(spark, seed, releaseBaseDocs, tracer)
    case "stream" =>
      val (s, k, b, p) = streamSizes
      new StreamWorkload(spark, seed, s, k, b, p, tracer)
    case "intake" => new IntakeWorkload(spark, seed, intakeSizes, tracer)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def run(spark: SparkSession, opts: Map[String, String], work: File,
      sessionS: Double, probes0: Host.Probes): Map[String, Any] = {
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracer = if (opts("trace") == "1") Some(new Tracer(spark)) else None
    val w = workload(opts("workload"), spark, seed, tracer)

    // Set-up: the session, the inputs (generated three times into fresh
    // directories, the median counted; the last copy is measured) and one
    // warm-up operation.
    val genSecs = (0 until 3).map { r =>
      if (r > 0) Dirs.delete(new File(work, s"inputs${r - 1}"))
      Workloads.time(w.generate(new File(work, s"inputs$r")))._2
    }
    System.err.println(f"[perfbench] generated inputs: ${genSecs.mkString(" ")}")
    val warmS = Workloads.time(w.warmUp())._2
    System.err.println(f"[perfbench] warm-up: $warmS%.2f s")
    val setupS = sessionS + Stats.median(genSecs) + warmS

    val heap = new Host.HeapWatch()
    tracer.foreach(_.start())
    val t0 = System.nanoTime()
    val done = scala.collection.mutable.ArrayBuffer.empty[Cycle]
    var n = 0
    while (done.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val c0 = System.nanoTime()
      done += (try w.cycle(n) catch { case e: Exception =>
        // a cycle that throws counts as one failed operation, timed
        System.err.println(s"[perfbench] cycle $n failed: $e")
        val sec = (System.nanoTime() - c0) / 1e9
        Cycle(Seq(Op("failed", sec, ok = false)), Map.empty, sec, 0.0, 1)
      })
      System.err.println(f"[perfbench] cycle $n: ${done.last.wallSec}%.2f s timed, " +
        s"${done.last.ops.map(o => f"${o.sec}%.2f").mkString(" ")}")
      n += 1
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val peakHeapMb = heap.stop()
    val (lateFailed, extra) = w.finish()
    val probes1 = Host.probe()

    val ops = done.flatMap(_.ops).map(_.sec).toSeq
    val side = done.flatMap(_.sideOps).groupBy(_._1).map { case (k, v) =>
      k -> Stats.median(v.map(_._2.sec).toSeq) }
    val attempted = done.map(c => c.ops.size + c.sideOps.size).sum
    val failed = done.map(_.failed).sum + lateFailed
    val (tail, tailPct, nOps) = Stats.tail(ops)
    val metrics = Map(
      "setup_s" -> setupS,
      "op_s_p50" -> Stats.median(ops),
      "op_s_tail" -> tail,
      "mb_per_s" -> done.map(_.mb).sum / done.map(_.wallSec).sum)
    val traced = tracer.map(_.report(Host.cores))
    Map(
      "metrics" -> metrics,
      "layers" -> traced.map(_._1).getOrElse(Map.empty),
      "attempted" -> attempted,
      "failed" -> failed,
      "meta" -> (Map(
        "workload" -> opts("workload"), "seed" -> seed, "traced" -> tracer.nonEmpty,
        "cycles" -> done.size, "window_s" -> windowS, "ops" -> nOps,
        "op_tail_percentile" -> tailPct, "peak_heap_after_gc_mb" -> peakHeapMb,
        "session_s" -> sessionS,
        "generate_s" -> genSecs, "warm_up_s" -> warmS, "side_ops_median_s" -> side,
        "failed_ratio" -> failed.toDouble / math.max(1, attempted),
        "op_log" -> done.flatMap(_.ops).map(o => f"${o.label}: ${o.sec}%.3f s"),
        "inputs" -> w.props,
        "host_start" -> probes0, "host_end" -> probes1) ++
        traced.map(_._2).getOrElse(Map.empty) ++ extra))
  }

  /** The generators' determinism check: the same seed must produce
    * byte-identical inputs, and another seed different ones. */
  private def selftest(work: File, out: File): Int = {
    val spark = Host.session(work)
    try {
      def digest(seed: Long, tag: String): Map[String, String] = {
        val d = new File(work, s"selftest-$tag")
        new ReleaseWorkload(spark, seed, 60, None).generate(new File(d, "release"))
        new StreamWorkload(spark, seed, 40, 4, 5, 3, None).generate(new File(d, "stream"))
        new IntakeWorkload(spark, seed, IntakeSizes(400, 120, 200, 120, 200, 2, 8), None)
          .generate(new File(d, "intake"))
        val files = java.nio.file.Files.walk(d.toPath).iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith("."))
          .toSeq
        files.map { p =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          d.toPath.relativize(p).toString ->
            md.digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }.toMap
      }
      val a = digest(7, "a")
      val b = digest(7, "b")
      val c = digest(8, "c")
      val sameSeed = a == b
      val otherSeed = a.keySet == c.keySet && a.exists { case (k, v) => c(k) != v }
      java.nio.file.Files.writeString(out.toPath, Stats.json(Map(
        "files" -> a.size, "same_seed_identical" -> sameSeed,
        "other_seed_differs" -> otherSeed,
        "mismatched" -> a.keySet.filter(k => !b.get(k).contains(a(k))).toSeq.sorted)))
      if (sameSeed && otherSeed && a.nonEmpty) 0 else 1
    } finally spark.stop()
  }
}

/** Host state and the JVM-level measurements. */
object Host {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: File): SparkSession = {
    work.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.ensure(s)
    s
  }

  final case class Probes(nproc: Int, heapMaxMb: Double, singleThreadS: Double,
      allCoreS: Double) {
    def probeSec: Double = singleThreadS + allCoreS
  }

  /** `graft.Bench`'s two burn probes (its single-thread `noiseProbe` and
    * all-core `parallelNoiseProbe`, same loop and iteration counts), which
    * that object keeps private: a contended host shows as slow burns. */
  def probe(): Probes = {
    def burn(iters: Long): Double = {
      val t0 = System.nanoTime()
      var s = 0L
      var i = 0L
      while (i < iters) { s += i * i; i += 1 }
      if (s == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e9
    }
    val single = burn(300000000L)
    val times = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val threads = (0 until cores).map(_ => new Thread(() => { times.add(burn(150000000L)); () }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Probes(cores, Runtime.getRuntime.maxMemory / 1e6, single, times.asScala.max)
  }

  /** Highest heap occupancy right after a collection, over every GC from
    * construction to `stop`: each GC notification carries the heap pools'
    * usage after that collection. */
  final class HeapWatch {
    @volatile private var peak = 0.0
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
      .map(_.asInstanceOf[javax.management.NotificationEmitter])
    private val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, h: Any): Unit = {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1e6
        synchronized { peak = math.max(peak, used) }
      }
    }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    def stop(): Double = {
      emitters.foreach(_.removeNotificationListener(listener))
      peak
    }
  }
}
