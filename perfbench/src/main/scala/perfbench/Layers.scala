package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.cluster.KMeansNative
import graft.functions.VectorSumAgg

/** Driver JVM counters over the measured region (after set-up). */
object Driver {
  private var gc0 = 0L
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def mark(): Unit = { gc0 = gcMs; heapPools.foreach(_.resetPeakUsage()) }
  def gcS: Double = (gcMs - gc0) / 1e3
  /** Sum of each heap pool's peak: an upper bound on the heap's peak. */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/** Per-layer numbers of a traced run, from the measured calls' spans and
  * the [[Probe]]'s attributed events. */
object Layers {
  val Families = Seq("ann", "dedup", "text", "rel", "events", "stream", "mm", "pipeline",
    "graph", "kmeans", "asof", "sql")
  private val MB = 1048576.0

  def json(spark: SparkSession, p: Probe, calls: Seq[Harness.Call], spans: Seq[Harness.Span],
           tmp: String, cpus: Int): String = {
    val ids = calls.map(_.i).toSet
    val t0 = calls.map(_.t0).min
    val t1 = calls.map(_.t1).max
    val wall = t1 - t0
    val jobs = p.jobs.values.filter(j => ids(p.jobCall(j.id))).toSeq
    val tasks = p.tasks.filter(t => ids(t.call)).toSeq
    val execs = p.execs.filter(x => ids(p.execCall(x))).toSeq
    def phase(n: String) = execs.map(_.phasesMs.getOrElse(n, 0L)).sum.toDouble
    val busy = union(tasks.map(t => (math.max(t.launch / 1e3, t0), math.min(t.finish / 1e3, t1))))
    val runS = tasks.map(_.runMs).sum / 1e3
    val build = calls.map(_.builderS).sum
    val family = Families.map { f =>
      s"queries.family.${f}_s" -> calls.filter(_.name.startsWith(f + "_")).map(c => c.t1 - c.t0).sum
    }
    val indexDirs = Option(new java.io.File(tmp).listFiles).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.matches("graft-(ivf|pq|graph)-.*"))
    val cachedEnd = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    val batches = p.batches.toSeq

    def median(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
    def callMedian(n: String) = median(calls.filter(_.name == n).map(c => c.t1 - c.t0))
    // a Lloyd round is one collect() inside fit or fitExact; its driver
    // time is the part of that execution no job of it covers
    val roundCalls = calls.filter(c => c.name == "fit" || c.name == "fitExact").map(_.i).toSet
    val rounds = execs.filter(x => x.func == "collect" && roundCalls(p.execCall(x))).map { x =>
      val js = p.jobs.values.filter(j => j.execId == x.id && j.end >= 0).map(j => (j.start / 1e3, j.end / 1e3)).toSeq
      (x.durationNs / 1e9, x.durationNs / 1e6 - union(js) * 1e3)
    }

    val metrics = Seq(
      "queries.build_s" -> build,
      "queries.build_share" -> build / wall) ++ family ++ Seq(
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> calls.map(c => p.stagesByCall(c.i)).sum.toDouble,
      "scheduler.tasks" -> tasks.size.toDouble,
      "scheduler.job_s" -> jobs.filter(_.end >= 0).map(j => (j.end - j.start) / 1e3).sum,
      "scheduler.non_executor_s" -> (wall - busy),
      "executor.run_s" -> runS,
      "executor.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "executor.busy_share" -> runS / (wall * cpus),
      "shuffle.write_mb" -> tasks.map(_.shWrite).sum / MB,
      "shuffle.read_mb" -> tasks.map(_.shRead).sum / MB,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "spill.mb" -> tasks.map(_.spill).sum / MB,
      "io.read_mb" -> tasks.map(_.inBytes).sum / MB,
      "io.read_rows" -> tasks.map(_.inRows).sum.toDouble,
      "storage.cached_mb_peak" -> p.cachedPeak / MB,
      "storage.cached_mb_end" -> cachedEnd / MB,
      "storage.rdds_live_end" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
      "index.dirs_built" -> indexDirs.size.toDouble,
      "index.disk_mb" -> indexDirs.map(du).sum / MB,
      "streaming.batches" -> batches.size.toDouble,
      "streaming.addbatch_ms" -> batches.map(_.addBatchMs).sum.toDouble,
      "streaming.machinery_ms" -> batches.map(b => b.triggerMs - b.addBatchMs).sum.toDouble,
      "cluster.init_s" -> callMedian("firstKCenters"),
      "cluster.fit_exact_s" -> callMedian("fitExact"),
      "cluster.fit_s" -> callMedian("fit"),
      "cluster.fit_ml_s" -> callMedian("fit_ml"),
      "cluster.assign_s" -> callMedian("assign_wcss"),
      "cluster.round_p50_s" -> median(rounds.map(_._1)),
      "cluster.driver_round_ms" -> median(rounds.map(_._2)),
      "driver.gc_s" -> Driver.gcS,
      "driver.heap_mb_peak" -> Driver.heapPeakMb,
      "trace.wall_s" -> wall)

    val perCall = calls.map { c =>
      val cj = jobs.filter(j => p.jobCall(j.id) == c.i)
      val ct = tasks.filter(_.call == c.i)
      val cx = execs.filter(x => p.execCall(x) == c.i)
      s"""{"i":${c.i},"name":"${Json.esc(c.name)}","jobs":${cj.size},"stages":${p.stagesByCall(c.i)},""" +
        s""""tasks":${ct.size},"run_ms":${ct.map(_.runMs).sum},"cpu_ms":${ct.map(_.cpuNs).sum / 1000000},""" +
        s""""catalyst_ms":${cx.map(_.phasesMs.values.sum).sum}}"""
    }
    // self time: a span's duration less the part its children cover
    val mine = spans.indices.filter(i => ids(spans(i).call))
    def self(i: Int) = (spans(i).end - spans(i).start) -
      union(mine.filter(spans(_).parent == i).map(j => (spans(j).start, spans(j).end)))
    val selfS = mine.groupBy(i => if (spans(i).parent < 0) "call" else spans(i).name)
      .map { case (k, is) => k -> is.map(self).sum }.toSeq.sortBy(_._1)
    s"""{"metrics":${Json.obj(metrics)},"self_s":${Json.obj(selfS)},""" +
      s""""per_call":${perCall.mkString("[", ",", "]")}}"""
  }

  /** Length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var (s, e) = (Double.NegativeInfinity, Double.NegativeInfinity)
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b } else e = math.max(e, b)
    }
    if (e > s) total += e - s
    total
  }

  private def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du).sum else f.length
}

/** Two codegen kernels in isolation, over a cached seeded frame of
  * [[Rows]] 64-dim vectors: the `ArgminCenters` assignment
  * (`KMeansNative.assigned`, k = 10) and the `VectorSumAgg` aggregate.
  * Each figure is the median of [[Reps]] runs over the row count. */
object Kernels {
  val Rows = 200000
  val Dim = 64
  val Reps = 5

  def measure(spark: SparkSession, seed: Long): String = {
    spark.sparkContext.setJobGroup("kernels", "kernel isolation", interruptOnCancel = false)
    val df = spark.range(0, Rows, 1, 4)
      .select(array((0 until Dim).map(j => rand(seed * Dim + j)): _*).as("v"))
      .persist()
    try {
      df.count()
      val centers = df.limit(10).collect().map(_.getSeq[Double](0).toArray)
      def nsPerRow(run: => Unit): Double = {
        run // first run compiles the stage
        val ts = (0 until Reps).map { _ => val t = System.nanoTime(); run; System.nanoTime() - t }
        ts.sorted.apply(Reps / 2).toDouble / Rows
      }
      val argmin = nsPerRow(KMeansNative.assigned(df, col("v"), centers)
        .agg(sum("sqdist"), max("cluster_id")).collect())
      val vecsum = nsPerRow(df.agg(VectorSumAgg.vec_sum(Dim)(col("v"))).collect())
      Json.obj(Seq("plans.argmin_ns_per_row" -> argmin, "functions.vecsum_ns_per_row" -> vecsum))
    } finally {
      df.unpersist()
      spark.sparkContext.clearJobGroup()
    }
  }
}
