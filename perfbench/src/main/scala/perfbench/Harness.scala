package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** One benchmark process: reads a plan written by `perfbench/run.py`,
  * starts a session, runs the plan's calls one at a time on this thread
  * (a closed loop with one client) and writes a JSON record of every
  * call. The plan holds everything the seed decides, so this process
  * makes no random choices of its own.
  *
  * Plan lines are `key value`; repeated keys (`warm`, `call`) keep
  * their order. Keys: workload, fixture, out, trace, cpus, warm, call,
  * points, warm_passes, passes, seed, tmp, dump. */
object Harness {
  private final class Plan(lines: Seq[(String, String)]) {
    def one(k: String): String = lines.find(_._1 == k).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"plan has no '$k'"))
    def all(k: String): Seq[String] = lines.filter(_._1 == k).map(_._2)
  }

  private def readPlan(path: String): Plan = new Plan(
    scala.io.Source.fromFile(path, "UTF-8").getLines().map(_.trim).filter(_.nonEmpty).map { l =>
      val i = l.indexOf(' ')
      if (i < 0) (l, "") else (l.substring(0, i), l.substring(i + 1))
    }.toSeq)

  /** Wall clock in epoch seconds with nanosecond resolution between reads. */
  private val epoch0 = System.currentTimeMillis() / 1e3
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  final case class Span(name: String, start: Double, end: Double, parent: Int, call: Int)
  final case class Call(i: Int, name: String, t0: Double, t1: Double, builderS: Double,
                        actionS: Double, rows: Long, digest: String, error: String)

  /** Runs calls one at a time and records each one's times, spans and
    * outcome: rows and digest, or the failure's class and message. */
  final class Recorder(spark: SparkSession, probe: Option[Probe]) {
    val calls = mutable.ArrayBuffer.empty[Call]
    val spans = mutable.ArrayBuffer.empty[Span]

    private def span(name: String, s: Double, e: Double, parent: Int): Int = {
      spans += Span(name, s, e, parent, calls.size); spans.size - 1
    }

    /** Runs `build` then `act` as call `name`; `check` runs after the
      * timer stops and returns (rows, digest). */
    def call[T, R](name: String)(build: => T)(act: T => R)(check: R => (Long, String)): Option[R] = {
      val i = calls.size
      spark.sparkContext.setJobGroup(s"pb-$i", name, interruptOnCancel = false)
      probe.foreach(_.current = i)
      val t0 = now()
      var tb = Double.NaN // builder end; NaN while the builder has not returned
      var out: Option[R] = None
      var err: String = null
      try {
        val built = build
        tb = now()
        out = Some(act(built))
      } catch { case NonFatal(e) => err = s"${e.getClass.getName}: ${e.getMessage}" }
      val t1 = now()
      spark.sparkContext.clearJobGroup()
      probe.foreach { p =>
        p.current = -1
        p.synchronized(p.windows += ((i, (t0 * 1e3).toLong, (t1 * 1e3).toLong)))
      }
      val root = span(name, t0, t1, -1)
      if (tb.isNaN) tb = t1
      else {
        span("builder", t0, tb, root)
        if (err == null) span("action", tb, t1, root)
      }
      val (rows, digest) = out match {
        case Some(r) =>
          try check(r) catch { case NonFatal(e) =>
            err = s"check ${e.getClass.getName}: ${e.getMessage}"; (-1L, "")
          }
        case None => (-1L, "")
      }
      calls += Call(i, name, t0, t1, tb - t0, t1 - tb, rows, digest, err)
      if (err != null) System.err.println(s"[perfbench] $name failed: $err")
      if (err == null) out else None
    }

    /** A declared query: builder, then `collect()` of every column. */
    def query(name: String, fixture: String): Unit = {
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query: $name"))
      call(name)(fn(spark, fixture))(df => (df.collect(), df.schema)) { case (rows, schema) =>
        (rows.length.toLong, Canon.digest(rows, schema))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val plan = readPlan(args(0))
    val workload = plan.one("workload")
    val traced = plan.one("trace") == "1"
    val cpus = plan.one("cpus").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = if (traced) Some(new Probe(spark)) else None
    probe.foreach(_.start())
    val rec = new Recorder(spark, probe)
    val extra = mutable.LinkedHashMap.empty[String, String] // raw JSON values
    val fixture = plan.one("fixture")

    workload match {
      case "board_cold" =>
        extra("setup_end") = now().toString
        Driver.mark()
        plan.all("call").foreach(rec.query(_, fixture))
      case "serve_warm" =>
        plan.all("warm").foreach(rec.query(_, fixture))
        extra("warm_calls") = rec.calls.size.toString
        extra("setup_end") = now().toString
        Driver.mark()
        plan.all("call").foreach(rec.query(_, fixture))
      case "kmeans_lloyd" =>
        extra ++= KMeansPass.run(spark, rec, plan.one("points"), plan.one("warm_passes").toInt,
          plan.one("passes").toInt, plan.one("seed").toLong)
      case "oracles" =>
        extra("queries") = SparkEntry.queries.keys.toSeq.sorted.map { n =>
          s"\"$n\":" + SparkEntry.oracleSql.get(n).map(q => "\"" + Json.esc(q) + "\"").getOrElse("null")
        }.mkString("{", ",", "}")
      case "canon" =>
        val dump = plan.one("dump")
        Files.write(Paths.get(dump, "doubles.txt"), plan.all("double")
          .map(b => Canon.float(java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(b, 16))))
          .mkString("\n").getBytes("UTF-8"))
        plan.all("call").foreach { name =>
          val df = SparkEntry.queries(name)(spark, fixture)
          val rows = df.collect()
          Files.write(Paths.get(dump, s"$name.txt"),
            Canon.lines(rows, df.schema).mkString("\n").getBytes("UTF-8"))
          df.write.parquet(s"$dump/$name")
        }
    }

    probe.foreach { p =>
      p.drain()
      val firstMeasured = extra.get("warm_calls").map(_.toInt).getOrElse(0)
      extra("layers") = Layers.json(spark, p, rec.calls.toSeq.drop(firstMeasured),
        rec.spans.toSeq, plan.one("tmp"), cpus)
      extra("kernels") = Kernels.measure(spark, plan.one("seed").toLong)
      extra("spans") = rec.spans.zipWithIndex.map { case (s, i) =>
        s"""{"id":$i,"call":${s.call},"name":"${Json.esc(s.name)}","start":${s.start},"end":${s.end},"parent":${s.parent}}"""
      }.mkString("[", ",", "]")
    }
    val callsJson = rec.calls.map { c =>
      s"""{"i":${c.i},"name":"${Json.esc(c.name)}","t0":${c.t0},"t1":${c.t1},""" +
        s""""builder_s":${c.builderS},"action_s":${c.actionS},"rows":${c.rows},""" +
        s""""digest":"${c.digest}","error":${if (c.error == null) "null" else "\"" + Json.esc(c.error) + "\""}}"""
    }.mkString("[", ",", "]")
    val fields = Seq("workload" -> s"\"$workload\"", "calls" -> callsJson) ++ extra.toSeq
    Files.write(Paths.get(plan.one("out")),
      fields.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}\n").getBytes("UTF-8"))
    spark.stop()
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"\"$k\":${num(v)}" }.mkString("{", ",", "}")
}
