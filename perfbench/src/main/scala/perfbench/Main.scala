package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipeline, Sessions, SparkEntry}
import graft.operators.SimilarityOps
import graft.tables.Tables

/** One benchmark run in one JVM: set up a `local[4]` session, run the
  * workload's ops from one driver thread (a surface draw or pipeline
  * once, serve batches for the given number of seconds), check
  * outputs outside the timed window, and write the raw
  * samples (and, traced, the spans and per-layer totals) as JSON.
  * `run.py` turns that file into the metrics.
  *
  * Usage: Main --workload surface|pipeline|serve|dumps --data DIR --warm DIR
  *   --warm-ops q1,... --seed N --seconds S --trace 0|1 --out FILE --work DIR
  *   [--ops q1,q2,...] [--modules M1,M2,...]
  */
object Main {
  val Cores = 4
  /** Timed passes of a surface run. */
  val TimedPasses = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code = try new Run(opts).go() catch { case e: Throwable =>
      e.printStackTrace()
      2
    }
    System.out.flush()
    sys.exit(code)
  }

  /** Materialise every output column through the noop sink (a bare
    * count() would let the optimizer prune final projections). */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Drain an op's output to the driver: every column is computed, and
    * the output check digests these very rows after the timed window,
    * so no op runs twice. The declared outputs are at most ~10^4 rows. */
  def fetch(df: DataFrame): Array[Row] = df.collect()

  def now(): Long = System.currentTimeMillis()

  /** Seconds the host took from this machine's CPUs (steal, all CPUs),
    * from /proc/stat; 0 where there is none. */
  def stealSeconds(): Double = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100).getOrElse(0.0)
    finally f.close()
  } catch { case _: java.io.IOException => 0.0 }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def errorOf(e: Throwable): Map[String, Any] = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    Map("class" -> e.getClass.getName, "root_class" -> root.getClass.getName,
      "message" -> Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" "),
      "stack" -> (e.getStackTrace.take(4) ++
        e.getStackTrace.filter(_.getClassName.startsWith("graft.")).take(8)).map(_.toString).toSeq)
  }
}

final class Run(opts: Map[String, String]) {
  import Main._

  private val workload = opts("workload")
  private val data = opts("data")
  private val seed = opts("seed").toLong
  private val seconds = opts("seconds").toDouble
  private val traced = opts.getOrElse("trace", "0") == "1"
  private val out = opts("out")
  private val ops = list("ops")
  /** Repo modules whose job time a traced run reports even when zero. */
  private val modules = list("modules")

  private def list(key: String): Seq[String] =
    opts.get(key).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  private val result = mutable.LinkedHashMap[String, Any]()
  private val opRecs = mutable.ArrayBuffer[Map[String, Any]]()
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()
  private val passes = mutable.ArrayBuffer[Map[String, Any]]()
  private val opTraces = mutable.ArrayBuffer[Trace.OpTrace]()
  private var setupRec: Map[String, Any] = Map.empty

  private var spark: SparkSession = _
  private var trace: Trace = _

  def go(): Int = {
    result("workload") = workload
    result("seed") = seed
    result("main_ms") = now()
    setup()
    workload match {
      case "surface" => surface()
      case "pipeline" => pipeline()
      case "serve" => serve()
      case "dumps" => dumps()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (traced) {
      // Surface runs take their layer totals from the fully traced first
      // pass and the tracing overhead from the alternating later ones.
      val first = opRecs.filter(r => workload != "surface" || r("pass") == 1).map(_("id")).toSet
      result("layers") = Layers.of(opTraces.filter(t => first(t.op.id)).toSeq, opRecs.toSeq,
        opRecs.filterNot(r => workload == "surface" && r("pass") == 1).toSeq, modules)
      result("kernels") = Kernels.measure(spark, seed)
    }
    spark.stop()
    result("setup") = setupRec
    result("ops") = opRecs.toSeq
    result("passes") = passes.toSeq
    result("checks") = checks.toSeq
    result("peak_rss_mb") = peakRssMb()
    Files.write(Paths.get(out), Json.write(result).getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(out + ".spans.json"),
      Json.write(Spans.of(opTraces.toSeq)).getBytes(StandardCharsets.UTF_8))
    0
  }

  private def session(): SparkSession = {
    val work = opts("work")
    Sessions.bounded(Sessions.builder(Cores.toString))
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
  }

  /** Session, then the workload's untimed warm-up; `ready_ms` marks the
    * start of the first timed op. */
  private def setup(): Unit = {
    val t0 = System.nanoTime()
    spark = session()
    val sessionS = secondsSince(t0)
    val t1 = System.nanoTime()
    warmup()
    setupRec = Map("session_s" -> sessionS, "warmup_s" -> secondsSince(t1),
      "ready_ms" -> now())
  }

  /** Untimed queries (`--warm-ops` on `--warm`), drained as the timed ops
    * are: they take the JVM's first-use cost (class loading, JIT,
    * codegen) out of the timed ops. A surface run warms up on its own
    * draw and inputs. */
  private def warmup(): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    list("warm-ops").foreach { q =>
      fetch(SparkEntry.queries(q)(spark, opts("warm")))
      spark.catalog.clearCache()
    }
  }

  /** Runs one op under its job group; returns the op's result when it
    * did not throw. Timing covers construction and the body. */
  private def op[T](id: String, name: String, pass: Int, traceThis: Boolean)
      (construct: => T)(body: T => Unit): Option[T] = {
    val sc = spark.sparkContext
    if (traceThis) trace.attach()
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val startMs = now()
    val steal0 = stealSeconds()
    val t0 = System.nanoTime()
    var constructEnd = 0L
    var constructS = Double.NaN
    val res = try {
      val v = construct
      constructS = secondsSince(t0)
      constructEnd = now()
      body(v)
      Right(v)
    } catch { case e: Throwable => Left(e) }
    val secs = secondsSince(t0)
    val steal = stealSeconds() - steal0
    val endMs = now()
    sc.clearJobGroup()
    if (constructEnd == 0L) constructEnd = endMs
    val rec = mutable.LinkedHashMap[String, Any]("id" -> id, "name" -> name,
      "pass" -> pass, "traced" -> traceThis, "ok" -> res.isRight, "secs" -> secs,
      "steal_s" -> steal, "construct_s" -> constructS)
    res.left.foreach(e => rec("error") = errorOf(e))
    if (traceThis) {
      trace.detach()
      opTraces += trace.collect(Trace.OpSpan(id, name, startMs, constructEnd, endMs))
    }
    opRecs += rec.toMap
    res.toOption
  }

  /** `n` passes over the op list, each recorded with its op time and wall. */
  private def passLoop(n: Int)(runPass: Int => Unit): Unit =
    (1 to n).foreach { pass =>
      val before = opRecs.size
      val t0 = System.nanoTime()
      runPass(pass)
      val wall = secondsSince(t0)
      val secs = opRecs.drop(before).map(_("secs").asInstanceOf[Double]).sum
      passes += Map("pass" -> pass, "secs" -> secs, "wall_s" -> wall)
    }

  // ------------------------------------------------------------ surface

  /** `TimedPasses` passes over the draw; `mix_s` sums each query's
    * median time, so a slow spell of the host moves one sample of a query,
    * not its median. The count is fixed, not fitted to `--seconds`: the
    * JVM still speeds up from pass to pass, so a median over more passes
    * would read lower. In a traced run the first pass is traced
    * throughout and the other two alternate traced and untraced ops, so
    * every op runs once each way. */
  private def surface(): Unit = {
    if (traced) trace = new Trace(spark)
    val fns = ops.map(q => q -> SparkEntry.queries.getOrElse(q,
      throw new IllegalArgumentException(s"unknown query $q")))
    passLoop(TimedPasses) { pass =>
      fns.zipWithIndex.foreach { case ((q, fn), i) =>
        val traceThis = traced && (pass == 1 || (i + pass) % 2 == 0)
        var rows: Array[Row] = null
        val df = op(s"$pass:$q", q, pass, traceThis)(fn(spark, data))(d => rows = fetch(d))
        if (pass == 1) df.foreach { d =>
          val r = Digest.of(rows, d.schema)
          checks += Map("name" -> q, "ok" -> true, "rows" -> r.rows, "digest" -> r.digest)
        }
        spark.catalog.clearCache()
      }
    }
  }

  /** Digests of query outputs dumped as parquet by `graft.Verify`, for
    * the expected values (gen_expected.py). Not timed. */
  private def dumps(): Unit = ops.foreach { q =>
    val df = spark.read.parquet(s"$data/$q")
    val r = Digest.of(df.collect(), df.schema)
    checks += Map("name" -> q, "ok" -> true, "rows" -> r.rows, "digest" -> r.digest)
  }

  // ----------------------------------------------------------- pipeline

  private def pipeline(): Unit = {
    if (traced) trace = new Trace(spark)
    passLoop(1) { pass =>
      var recs: Array[Row] = null
      val r = op(s"$pass:pipeline", "pipeline", pass, traced)(Pipeline.run(spark, data)) { r =>
        recs = fetch(r.recommendations)
      }
      if (pass == 1) r.foreach { res =>
        val perUser = recs.groupBy(_.getAs[Any]("user_id")).values.map(_.length)
        checks += Map("name" -> "recommendations",
          "ok" -> (perUser.nonEmpty && perUser.max <= 3),
          "users" -> perUser.size, "max_per_user" -> perUser.maxOption.getOrElse(0),
          "auc" -> res.auc)
      }
      spark.catalog.clearCache()
    }
  }

  // -------------------------------------------------------------- serve

  /** The online phase: build the frozen sharded IVF index once (write
    * side), then drive closed-loop micro-batches of 8 requests from one
    * client (read side). The dials are the shipped q441/q453 ones. */
  private def serve(): Unit = {
    val (kc, nprobe, k, rounds, batch, minBatches) = (16, 8, 5, 2, 8, 200)
    val sparkS = spark
    import sparkS.implicits._
    val emb = Tables.embeddings(spark, data)
    val bits = SimilarityOps.adaptiveSignBits(emb)
    val shardBits = math.max(1, bits - 5)
    // The q453 request sample (md5 1-in-10), drawn in seeded order.
    val pool = emb
      .filter(pmod(conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(10)) === 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getAs[scala.collection.Seq[Float]](1).toSeq))
      .sortBy(_._1)
    val draw = new scala.util.Random(seed).shuffle(pool.toSeq).toArray
    def requests(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
    if (traced) trace = new Trace(spark)

    val idxPath = s"${opts("work")}/serve_index"
    val built = op("0:build", "build", 0, traced) {
      SimilarityOps.ivfServeIndexWrite(emb, "vec_id", "embedding", kc, rounds,
        shardBits, idxPath).localCheckpoint()
    } { _ => () }
    result("serve") = Map("corpus_rows" -> emb.count(), "requests" -> pool.length,
      "shard_bits" -> shardBits, "batch" -> batch)
    built.foreach { codebook =>
      val index = spark.read.parquet(idxPath)
      // Parity (outside the timed window): the pruned serve path returns
      // the rows of the declared q453 plan for the same requests.
      spark.sparkContext.setJobGroup("check", "parity", interruptOnCancel = false)
      val parity = try {
        val expected = SimilarityOps.ivfServeSharded(emb, "vec_id", "embedding",
            k, kc, nprobe, rounds, shardBits, queryMod = 10)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        val pruned = SimilarityOps.ivfServeBatchPruned(requests(pool.toSeq), "vec_id",
            "embedding", index, codebook, shardBits, nprobe, k)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        Map("name" -> "parity", "ok" -> (pruned == expected && expected.nonEmpty),
          "rows" -> pruned.size, "expected_rows" -> expected.size)
      } catch { case e: Throwable => Map("name" -> "parity", "ok" -> false, "error" -> errorOf(e)) }
      spark.sparkContext.clearJobGroup()
      checks += parity

      val batches = draw.grouped(batch).toArray
      var n = 0
      val t0 = System.nanoTime()
      val resultRows = mutable.ArrayBuffer[Long]()
      while (n < minBatches || secondsSince(t0) < seconds) {
        val b = batches(n % batches.length)
        val traceThis = traced && n % 2 == 1
        var rows = 0L
        op(s"1:batch$n", "batch", 1, traceThis) {
          SimilarityOps.ivfServeBatchPruned(requests(b.toSeq), "vec_id", "embedding",
            index, codebook, shardBits, nprobe, k)
        } { df => rows = df.collect().length.toLong }
        resultRows += rows
        opRecs(opRecs.size - 1) = opRecs.last + ("rows" -> rows)
        n += 1
      }
      passes += Map("pass" -> 1, "secs" -> secondsSince(t0), "batches" -> n,
        "requests" -> n * batch, "result_rows" -> resultRows.sum)
    }
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
