package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftExpr

import graft.functions.{CellIndex, NearestCells, TopKAggregator}
import graft.operators.{AsOfJoin, RelationalOps}
import graft.plans.GraftExtensions

/** Each custom kernel timed alone on a seeded input, against the built-in
  * Spark form it replaced, with the two results checked equal. The
  * inputs are checkpointed first, so a timing covers the kernel's plan,
  * not input generation. Each drain is a whole job over the checkpointed
  * rows, so the drain of an identity projection of the same input (its
  * row key alone) is timed too and taken off: a figure is the kernel's
  * own nanoseconds per input row, the median of three drains after one
  * untimed drain, less the baseline's median. Baseline, kernel and twin
  * drains are interleaved, so drift in the host falls on all three. The
  * baseline itself is reported as `functions.<kernel>.baseline_ns_per_row`.
  * The cheap per-row kernels (vector and string) run on more rows, and
  * vectors have the width of the shipped embeddings.
  */
object Kernels {
  private val Rows = 50000L
  private val RowKernelRows = 100000L
  private val Dim = 64
  private val Reps = 3

  def measure(spark: SparkSession, seed: Long): Map[String, Any] = {
    GraftExtensions.register(spark)
    spark.sparkContext.setJobGroup("kernels", "kernels", interruptOnCancel = false)
    val out = mutable.LinkedHashMap[String, Any]()
    val mismatches = mutable.LinkedHashMap[String, Long]()
    def record(name: String, input: DataFrame, key: String, kernel: DataFrame,
               builtin: Option[DataFrame], rows: Long, mismatch: => Long): Unit = {
      val secs = time(Seq(input.select(col(key)), kernel) ++ builtin)
      def nsPerRow(i: Int) = (secs(i) - secs(0)) * 1e9 / rows
      out(s"functions.$name.baseline_ns_per_row") = secs(0) * 1e9 / rows
      out(s"functions.$name.ns_per_row") = nsPerRow(1)
      if (builtin.nonEmpty) out(s"functions.$name.builtin_ns_per_row") = nsPerRow(2)
      mismatches(name) = mismatch
    }

    def vec(offset: Int, n: Int): Column =
      array((0 until n).map(j =>
        (pmod(xxhash64(col("id"), lit(seed), lit(j + offset)), lit(2001L)) - 1000L)
          .cast("double") / 100.0): _*)
    val doubles = spark.range(RowKernelRows)
      .select(col("id"), vec(0, Dim).as("a"), vec(Dim, Dim).as("b"))
      .localCheckpoint()
    val longs = doubles.select(col("id"),
      transform(col("a"), x => (x * 100).cast("long")).as("la"),
      transform(col("b"), x => (x * 100).cast("long")).as("lb"))
      .localCheckpoint()

    def pair(input: DataFrame, kernel: String, builtin: String): (DataFrame, DataFrame, Long) = {
      val both = input.select(expr(kernel).as("k"), expr(builtin).as("b"))
      (input.select(expr(kernel)), input.select(expr(builtin)),
        both.filter(!(col("k") <=> col("b"))).count())
    }
    val dotB = "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    Seq(
      ("graft_dot", doubles, "graft_dot(a, b)", dotB),
      ("graft_dot_range", doubles, "graft_dot_range(a, b, 1, 8)",
        "aggregate(zip_with(slice(a, 1, 8), slice(b, 1, 8), (x, y) -> x * y), 0D, (acc, v) -> acc + v)"),
      ("graft_sqdist", longs, "graft_sqdist(la, lb)",
        "aggregate(zip_with(la, lb, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"),
      ("graft_sqdist_d", doubles, "graft_sqdist_d(a, b)",
        "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)")
    ).foreach { case (name, input, k, b) =>
      val (kd, bd, bad) = pair(input, k, b)
      record(name, input, "id", kd, Some(bd), RowKernelRows, bad)
    }

    // Jaro-Winkler has no built-in twin; the check is its range.
    val names = spark.range(RowKernelRows).select(
      concat(lit("item"), (col("id") % 997).cast("string"), lit("-"),
        pmod(xxhash64(col("id"), lit(seed)), lit(50L)).cast("string")).as("s1"),
      concat(lit("item"), (col("id") % 991).cast("string"), lit("-"),
        pmod(xxhash64(col("id"), lit(seed + 1)), lit(50L)).cast("string")).as("s2"))
      .localCheckpoint()
    val jw = names.select(expr("graft_jw(s1, s2)").as("k"))
    record("graft_jw", names, "s1", jw, None, RowKernelRows,
      jw.filter(col("k").isNull || col("k") < 0 || col("k") > 1).count())

    // NearestCells against the chain it replaced: broadcast join of the
    // codebook, exact integer distance, groupBy(id) argmin.
    val cells = 64
    val cellRows = (0 until cells).map { c =>
      val r = new scala.util.Random(seed * 1000 + c)
      (0L, c.toLong, Array.fill(Dim)((r.nextInt(2001) - 1000).toLong * 100))
    }.toArray
    val idx = CellIndex.build(cellRows, 1)
    val codebook = spark.createDataFrame(cellRows.toSeq.map { case (_, c, e) => (c, e.toSeq) })
      .toDF("cid", "cemb")
    val q = longs.select(col("id"), col("la").as("q")).limit(10000).localCheckpoint()
    val qRows = q.count()
    val nc = q.select(col("id"), get(GraftExpr.column(NearestCells(
      GraftExpr.expression(lit(0L)), GraftExpr.expression(col("q")), idx)), lit(0)).as("cid"))
    val ncB = q.crossJoin(broadcast(codebook))
      .select(col("id"), struct(expr("graft_sqdist(q, cemb)").as("d"), col("cid")).as("dc"))
      .groupBy("id").agg(min("dc").getField("cid").as("cid"))
    record("nearest_cells", q, "id", nc, Some(ncB), qRows,
      nc.join(ncB.withColumnRenamed("cid", "cid_b"), Seq("id"), "full")
        .filter(!(col("cid") <=> col("cid_b"))).count())

    // TopKAggregator against the row_number window it replaced.
    val scored = spark.range(Rows).select((col("id") % 500).as("g"), col("id"),
      (pmod(xxhash64(col("id"), lit(seed)), lit(100000L)).cast("double") / 1000.0).as("score"))
      .localCheckpoint()
    val topk = scored.groupBy("g")
      .agg(TopKAggregator.topK(5, col("score"), col("id")).as("t"))
      .select(col("g"), explode(col("t")).as("e"))
      .select(col("g"), col("e.id").as("id"), col("e.score").as("score"))
    val topkB = RelationalOps.topKPerGroup(scored, "g", Seq(col("score").desc, col("id")), 5)
      .select("g", "id", "score")
    record("topk_aggregator", scored, "id", topk, Some(topkB), Rows,
      if (digest(topk) == digest(topkB)) 0L else 1L)

    // AsOfJoinExec against the window-form as-of join; right timestamps
    // are unique per key, so no tie rule is involved.
    val left = spark.range(Rows).select(col("id").as("lid"), (col("id") % 500).as("k"),
      pmod(xxhash64(col("id"), lit(seed)), lit(Rows * 4)).as("ts")).localCheckpoint()
    val right = spark.range(Rows).select((col("id") % 500).as("k"), (col("id") * 4).as("r_ts"),
      col("id").as("r_val")).localCheckpoint()
    val asof = AsOfJoin.exec(left, right, Seq("k"), "ts", "r_ts", "left")
      .select(left("lid"), col("r_val"))
    val asofB = AsOfJoin(left, right, "k", "ts", "r_ts", Seq("r_val"), "r_val")
      .select("lid", "r_val")
    record("asof_join_exec", left, "lid", asof, Some(asofB), Rows,
      if (digest(asof) == digest(asofB)) 0L else 1L)

    spark.sparkContext.clearJobGroup()
    out("functions.mismatches") = mismatches.toMap
    out.toMap
  }

  private def digest(df: DataFrame): Digest.Result = Digest.of(df.collect(), df.schema)

  /** Median drain seconds of each form, drains interleaved across forms. */
  private def time(forms: Seq[DataFrame]): Seq[Double] = {
    forms.foreach(Main.drain)
    val samples = (1 to Reps).map(_ => forms.map { df =>
      val t0 = System.nanoTime()
      Main.drain(df)
      Main.secondsSince(t0)
    })
    forms.indices.map(i => Layers.median(samples.map(_(i))))
  }
}
