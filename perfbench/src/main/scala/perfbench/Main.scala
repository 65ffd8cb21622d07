package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One benchmark run, started by run.py:
  *
  * {{{ perfbench.Main <workload> <seed> <seconds> <trace 0|1> <data dir> <out dir> <cores> }}}
  *
  * Sets up the session, warms up over the workload's items (which also
  * records the reference results), then runs closed-loop passes over them
  * in a seeded order until `seconds` have been measured. Every result
  * is checked. With trace 1, every second pass runs with the listeners
  * of [[Tracer]] registered; the others measure the untraced time of
  * the same run. Writes `record.json` (and `spans.jsonl` when traced)
  * to the out dir; run.py computes the statistics from it.
  */
object Main {
  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workloadName, seedArg, secondsArg, traceArg, data, outArg, coresArg) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val out = Paths.get(outArg).toAbsolutePath
    Files.createDirectories(out)
    val health = new Health

    // Set up once: a SparkContext stopped and started again in the same
    // JVM leaves the streaming state-store coordinator bound to the old
    // context's endpoints, and the new context's stateful queries stall.
    val t0 = Clock.nowMs
    val spark = session(cores, out)
    val sessionS = (Clock.nowMs - t0) / 1e3
    val w0 = Clock.nowMs
    val workload = Workload(workloadName, spark, data, out, seed)
    val loadS = (Clock.nowMs - w0) / 1e3
    val u0 = Clock.nowMs
    workload.warmUp()
    releaseCaches(spark)
    val warmUpS = (Clock.nowMs - u0) / 1e3

    val tracer = new Tracer(spark)
    val spans = ArrayBuffer.empty[Span]
    var spanId = 0L
    val nextId = () => { spanId += 1; spanId }
    val rng = new scala.util.Random(seed)
    val passes = ArrayBuffer.empty[Map[String, Any]]
    // Two passes at least, so every run has the same minimum number of
    // samples. A traced run alternates untraced and traced passes, and
    // starts and ends with an untraced one (an odd number of passes),
    // so the JIT's warming during the run does not bias the tracing
    // overhead.
    val minPasses = if (traced) 3 else 2
    val m0 = Clock.nowMs
    var midSampled = false
    while (passes.size < minPasses || Clock.nowMs - m0 < seconds * 1e3 ||
           (traced && passes.size % 2 == 0)) {
      val p = passes.size
      val tracedPass = traced && p % 2 == 1
      if (tracedPass) tracer.register()
      val execs = rng.shuffle(workload.items).map { item =>
        val x = workload.run(item, p)
        releaseCaches(spark)
        System.err.println(f"[perfbench] pass $p%d ${x.item}%s ${x.wallS}%.3f s${x.error.fold("")(" FAILED " + _)}%s")
        x
      }
      val layers = if (tracedPass) {
        tracer.unregister()
        val attributed = tracer.attribute(execs, nextId)
        attributed.foreach(a => spans ++= a._2)
        attributed.map(_._1)
      } else execs.map(_ => Map.empty[String, Double])
      passes += Map("index" -> p, "traced" -> tracedPass,
        "execs" -> execs.zip(layers).map { case (x, l) => execJson(x, l) })
      if (!midSampled && Clock.nowMs - m0 >= seconds * 1e3 / 2) { health.sample("mid"); midSampled = true }
    }
    val measuredS = (Clock.nowMs - m0) / 1e3
    if (!midSampled) health.sample("mid")
    spark.stop()
    health.sample("end")

    val record = Map(
      "workload" -> workloadName, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cores" -> cores, "data" -> data, "items" -> workload.items,
      "setup" -> Map("session_s" -> sessionS, "load_s" -> loadS, "warmup_s" -> warmUpS),
      "measured_s" -> measuredS,
      "warmup_errors" -> workload.warmUpErrors,
      "workload_detail" -> workload.describe,
      "passes" -> passes.toSeq,
      "health" -> health.json)
    Files.writeString(out.resolve("record.json"), Json(record))
    if (traced) {
      val w = Files.newBufferedWriter(out.resolve("spans.jsonl"))
      try spans.foreach { s =>
        w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "query_id" -> s.queryId,
          "name" -> s.name, "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
        w.newLine()
      } finally w.close()
    }
  }

  private def execJson(x: Exec, layers: Map[String, Double]): Map[String, Any] = Map(
    "item" -> x.item, "start_ms" -> x.startMs, "wall_s" -> x.wallS, "cpu_s" -> x.cpuS, "jit_s" -> x.jitS,
    "error" -> x.error, "rows" -> x.rows, "batches_s" -> x.batchesS, "layers" -> layers)

  /** Operators persist() for reuse inside a query; the blocks must not
    * outlive it (the corpus harness `graft.Bench` does the same). The
    * blocks are dropped and the heap collected before the next item
    * starts, outside its timing, so that no item pays for the garbage
    * and clean-up of the one before it and the seeded order does not
    * change the times. */
  def releaseCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }
}

/** Host health, recorded with every run and never gating a metric:
  * the 1-minute load average at the start, mid-run and end, this JVM's
  * CPU and wall time, and the end load minus this JVM's own recent
  * parallelism (as `graft.Bench` computes it), so a run on a loaded
  * host shows itself. */
final class Health {
  private val samples = ArrayBuffer(("start", Clock.nowMs, Workload.cpuS(), Health.loadAvg()))

  def sample(name: String): Unit = samples += ((name, Clock.nowMs, Workload.cpuS(), Health.loadAvg()))

  def json: Map[String, Any] = {
    val (_, w0, c0, _) = samples.head
    val (_, w1, c1, loadEnd) = samples.last
    // the load average spans the last minute: subtract this JVM's
    // parallelism over (up to) that window
    val from = samples.filter(_._2 <= w1 - 60e3).lastOption.getOrElse(samples.head)
    val selfPar = if (w1 > from._2) (c1 - from._3) / ((w1 - from._2) / 1e3) else 0.0
    samples.map(s => s"load_${s._1}" -> s._4).toMap ++ Map(
      "cpu_s" -> (c1 - c0), "wall_s" -> (w1 - w0) / 1e3, "load_end_ext" -> (loadEnd - selfPar))
  }
}

object Health {
  def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }
}

/** JSON text of maps, sequences, options, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
