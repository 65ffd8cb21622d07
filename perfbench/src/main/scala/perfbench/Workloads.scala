package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.streaming._

/** One execution of an item (a corpus query or a streaming operator
  * run) in one pass. `cpuS` is this JVM's CPU time over the execution,
  * `jitS` the JIT compilers' (approximate) time within it. `batchesS`
  * holds the per-slice batch latencies of a streaming operator run. */
final case class Exec(pass: Int, item: String, startMs: Double, endMs: Double,
                      cpuS: Double, jitS: Double, error: Option[String], rows: Long,
                      batchesS: Seq[Double], calls: Seq[Call]) {
  def wallS: Double = (endMs - startMs) / 1e3
}

/** What a workload gives the run loop: its fixed set of items, a warm-up
  * that also records the reference each result is checked against, and
  * one checked execution of an item. */
trait Workload {
  def items: Seq[String]
  def warmUp(): Unit
  def run(item: String, pass: Int): Exec
  /** Items that failed in the warm-up and have not succeeded since, with why. */
  def warmUpErrors: Map[String, String]
  def describe: Map[String, Any]
}

object Workload {
  /** The library corpus queries of `library_ops`: one per query family
    * (two for the largest families x, ty, so that a run has over twenty
    * samples), among the family's cheaper half, preferring a query that
    * exercises a library kernel or iterates (x8 SimHash, x12 rolling hash,
    * v8 scoring, gr1 supersteps). A query whose result or whose DuckDB
    * oracle takes over 3 s at sf0.1 does not fit the run length and is
    * not chosen (README.md names them). The set never depends on the
    * seed, so runs with different seeds time the same work; the seed
    * orders it. */
  val Library: Seq[String] = Seq("x8_simhash", "x12_rolling_fingerprint",
    "v8_gaussian_outlier", "mm5_features", "dd1_dedup_first", "ml1_pipeline",
    "gr1_connected_components", "cep7_until", "mr2_match_define_predicate",
    "ty5_lookup_join", "ty6_retract_sum")

  def apply(name: String, spark: SparkSession, data: String, out: Path, seed: Long): Workload =
    name match {
      case "library_ops" => new Corpus(spark, data, out, Library)
      case "stream_slices" => new StreamSlices(spark, data, out, seed)
    }

  private val cpuBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitBean = java.lang.management.ManagementFactory.getCompilationMXBean

  /** CPU seconds of this JVM, all threads. */
  def cpuS(): Double = cpuBean.getProcessCpuTime / 1e9

  /** Seconds the JIT compilers have spent so far, summed over their
    * threads. The JVM reports it as approximate elapsed time, not CPU
    * time, so it is recorded beside `cpuS` and never subtracted. */
  def jitS(): Double = jitBean.getTotalCompilationTime / 1e3

  def reason(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
    s"${e.getClass.getSimpleName}: ${msg.take(300)}"
  }

  /** Order-insensitive digest of a result: its schema and every row. */
  def digest(df: DataFrame, rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.schema.simpleString.getBytes("UTF-8"))
    rows.map(_.toString).sorted.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10: Byte) }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Queries of the library's corpus, run through `SparkEntry.queries`.
  * A query's whole result is collected, as a user receives it. The
  * first successful result is written out for run.py's oracle check;
  * every later one must have the same digest. */
final class Corpus(spark: SparkSession, data: String, out: Path,
                   val items: Seq[String]) extends Workload {
  private val fns = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql
  require(items.forall(fns.contains),
    s"not in SparkEntry.queries: ${items.filterNot(fns.contains).mkString(", ")}")

  private val reference = scala.collection.mutable.Map.empty[String, String]
  private val errors = scala.collection.mutable.Map.empty[String, String]
  def warmUpErrors: Map[String, String] = errors.toMap

  /** Every item twice: after one round the JIT compilers still run
    * through the first timed pass, which then took 20–30% longer than
    * the second. */
  def warmUp(): Unit = for (_ <- 1 to 2; n <- items) {
    run(n, -1).error.foreach(errors(n) = _)
  }

  def run(item: String, pass: Int): Exec = {
    val cpu0 = Workload.cpuS()
    val jit0 = Workload.jitS()
    val t0 = Clock.nowMs
    var t1 = t0
    val result = try {
      val df = fns(item)(spark, data)
      t1 = Clock.nowMs
      Right((df, df.collect()))
    } catch { case e: Throwable => Left(Workload.reason(e)) }
    val t2 = Clock.nowMs
    val cpu = Workload.cpuS() - cpu0
    val jit = Workload.jitS() - jit0
    val calls = Seq(Call("queries.build", t0, t1)) ++
      (if (result.isRight) Seq(Call("queries.materialise", t1, t2)) else Nil)
    val (error, n) = result match {
      case Left(why) => (Some(why), 0L)
      case Right((df, rows)) => (check(item, df, rows), rows.length.toLong)
    }
    Exec(pass, item, t0, t2, cpu, jit, error, n, Nil, calls)
  }

  private def check(item: String, df: DataFrame, rows: Array[Row]): Option[String] = {
    val d = Workload.digest(df, rows)
    reference.get(item) match {
      case Some(ref) => if (ref == d) None else Some("result differs from the first run's")
      case None if !oracle.contains(item) && rows.isEmpty => Some("empty result")
      case None =>
        reference(item) = d
        errors.remove(item)
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(out.resolve("results").resolve(item).toString)
        None
    }
  }

  def describe: Map[String, Any] = Map(
    "oracle" -> items.flatMap(n => oracle.get(n).map(n -> _)).toMap)
}

/** Event-time slices through the library's stateful streaming
  * operators. The events are sorted by event time and cut into
  * `Slices` contiguous slices whose boundaries the seed jitters; each
  * operator runs as its own query over a MemoryStream, and the next
  * slice is added only after the previous one's batch has committed.
  * Sorted input means no row is ever late, so each operator's final
  * sink must equal a single-batch run over all events. */
final class StreamSlices(spark: SparkSession, data: String, out: Path, seed: Long)
    extends Workload {
  import spark.implicits._
  import StreamSlices._

  private val events: Array[GEvent] = graft.Tables(spark, data, "events")
    .select(col("user_id").as("key"), unix_micros(col("ts")).as("tsMicros"),
      col("event_id").as("id"), col("event_type").as("kind"), col("value"))
    .as[GEvent].collect().sortBy(e => (e.tsMicros, e.id))

  val bounds: Seq[Int] = {
    val rng = new java.util.Random(seed)
    val n = events.length
    val jitter = n / (10 * Slices)
    0 +: (1 until Slices).map(i => i * n / Slices + rng.nextInt(2 * jitter + 1) - jitter) :+ n
  }
  private val slices = bounds.zip(bounds.tail).map { case (a, b) => events.slice(a, b).toSeq }

  private val dec = DecimalType(18, 2)
  private val operators: Map[String, Op] = Seq(
    Op("tumble", OutputMode.Append,
      ds => ds.withColumn("ts", timestamp_micros(col("tsMicros")))
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour"), col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("value").cast(dec)).cast(DoubleType).as("total")),
      _.select(col("window.start").as("wstart"), col("kind"), col("n"), col("total"))),
    Op("topn", OutputMode.Update,
      ds => StreamingTopN(spark, ds, n = 3).toDF(),
      // the final revision of each key's ranking; one side re-aliased,
      // as a self-join of the sink view reuses its attribute ids
      t => {
        val last = t.groupBy("key").agg(max("emitSeq").as("_s")).withColumnRenamed("key", "_k")
        t.join(last, col("key") === col("_k") && col("emitSeq") === col("_s"))
          .select("key", "rank", "id", "value")
      }),
    Op("dedup", OutputMode.Append,
      ds => StreamingDedupKeepFirst(spark, ds, byKind = true, watermarkDelay = "1 minute").toDF(),
      identity),
    Op("join", OutputMode.Append,
      ds => StreamingSymmetricJoin(spark, ds.filter(_.kind == "signup"),
        ds.filter(_.kind == "purchase")).toDF(),
      identity),
    Op("over", OutputMode.Append,
      ds => StreamingOverAgg(spark, ds, kPreceding = 3, watermarkDelay = "1 minute").toDF(),
      identity),
    Op("match_recognize", OutputMode.Append,
      ds => StreamingMatchRecognize(spark, ds.toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  PATTERN (A C? P) WITHIN INTERVAL '2' HOUR
          |  DEFINE A AS kind = 'signup', C AS kind = 'click',
          |         P AS kind = 'purchase')""".stripMargin,
        watermarkDelay = "1 minute").toDF(),
      identity),
  ).map(o => o.name -> o).toMap

  val items: Seq[String] = operators.keys.toSeq.sorted

  private val reference = scala.collection.mutable.Map.empty[String, String]
  private val errors = scala.collection.mutable.Map.empty[String, String]
  def warmUpErrors: Map[String, String] = errors.toMap

  /** Single-batch run of every operator: the reference results. */
  def warmUp(): Unit = items.foreach { n =>
    val x = drive(operators(n), Seq(events.toSeq), -1)
    x._2 match {
      case Right(d) => reference(n) = d
      case Left(why) => errors(n) = why
    }
  }

  def run(item: String, pass: Int): Exec = {
    val (exec, result) = drive(operators(item), slices, pass)
    val error = result match {
      case Left(why) => Some(why)
      case Right(d) => reference.get(item) match {
        case Some(ref) if ref == d => None
        case Some(_) => Some("final sink differs from the single-batch run")
        case None => Some("no single-batch reference")
      }
    }
    exec.copy(error = error)
  }

  /** Runs one operator over `input` as a memory-sink query configured
    * like `StreamRunner.toTable`: four shuffle (state) partitions, the
    * local checkpoint manager, a fresh checkpoint tree deleted when the
    * query ends. One difference: toTable puts the tree under /dev/shm
    * where it can, and this puts it in the run directory, on the
    * checkout's file system, because the benchmark writes nowhere else.
    * The offset and commit logs and the state-store deltas are therefore
    * disk writes here. */
  private def drive(op: Op, input: Seq[Seq[GEvent]], pass: Int): (Exec, Either[String, String]) = {
    implicit val sql = spark.sqlContext
    val calls = ArrayBuffer.empty[Call]
    val batches = ArrayBuffer.empty[Double]
    val view = s"perfbench_${op.name}"
    val ckpt = Files.createTempDirectory(out, op.name)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val cpu0 = Workload.cpuS()
    val jit0 = Workload.jitS()
    val t0 = Clock.nowMs
    var rows = 0L
    val result = try {
      spark.catalog.dropTempView(view)
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      LocalCheckpointFileManager.install(spark)
      val source = MemoryStream[GEvent]
      val plan = op.plan(source.toDS())
      val p1 = Clock.nowMs
      calls += Call("queries.build", t0, p1)
      val q = plan.writeStream.outputMode(op.mode).format("memory")
        .queryName(view).option("checkpointLocation", ckpt.toString).start()
      calls += Call("streaming.start", p1, Clock.nowMs)
      try input.foreach { slice =>
        val b0 = Clock.nowMs
        source.addData(slice)
        q.processAllAvailable()
        val b1 = Clock.nowMs
        calls += Call("streaming.feed", b0, b1)
        batches += (b1 - b0) / 1e3
      } finally {
        val s0 = Clock.nowMs
        q.stop()
        calls += Call("streaming.stop", s0, Clock.nowMs)
      }
      val m0 = Clock.nowMs
      val df = op.result(spark.table(view))
      val collected = df.collect()
      calls += Call("queries.materialise", m0, Clock.nowMs)
      rows = collected.length
      Right(Workload.digest(df, collected))
    } catch { case e: Throwable => Left(Workload.reason(e)) }
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      deleteTree(ckpt)
    }
    val t1 = Clock.nowMs
    (Exec(pass, op.name, t0, t1, Workload.cpuS() - cpu0, Workload.jitS() - jit0, None, rows,
      batches.toSeq, calls.toSeq),
      result)
  }

  def describe: Map[String, Any] = Map(
    "events" -> events.length, "slices" -> Slices, "bounds" -> bounds,
    "operators" -> items)
}

object StreamSlices {
  /** Slices per operator run. */
  val Slices = 2

  final case class Op(name: String, mode: OutputMode,
                      plan: Dataset[GEvent] => DataFrame, result: DataFrame => DataFrame)

  def deleteTree(p: Path): Unit = {
    def rm(f: java.io.File): Unit = { Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); () }
    rm(p.toFile)
  }
}
