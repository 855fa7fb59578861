package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.api._
import graft.sources.IntervalLayout

/** One benchmark operation: a library call that returns a frame (run
  * inside the `build` span), checked against `oracleSql` run by DuckDB on
  * the same input files. `layer` names the module the call enters. */
final case class Op(name: String, layer: String, build: () => DataFrame, oracleSql: String)

/** A workload: its operations, the fixed input-row count that
  * `rows_per_s` divides by, and the input paths (under the data directory)
  * set-up locates. */
final case class Workload(name: String, ops: Seq[Op], statedRows: Long, tables: Seq[String])

object Workloads {

  /** An embedding entry (it never calls the interval
    * operators) and a streaming replay. */
  val Pipeline: Seq[String] = Seq(
    "q212_embed_decontaminate")
  val Replays: Seq[String] = Seq("q195_stream_cms")

  /** Layout bin width and the number of `readOverlapping` probes per
    * `layout_probe` operation (sweep_large). */
  val LayoutBins = 16
  val ProbesPerOp = 2

  private def entries(spark: SparkSession, dir: String, names: Seq[String],
      layer: String): Seq[Op] = {
    val oracle = SparkEntry.oracleSql
    names.map { n =>
      val fn = SparkEntry.queries(n)
      Op(n, layer, () => fn(spark, dir), oracle(n))
    }
  }

  def apply(name: String, spark: SparkSession, dir: String, work: String,
      sizes: Map[String, Long], seed: Long): Workload = name match {
    case "pipeline_replay" =>
      Workload(name, entries(spark, dir, Pipeline, "functions") ++
          entries(spark, dir, Replays, "streaming"),
        Seq("documents", "embeddings").map(sizes).sum,
        Seq("documents.parquet", "embeddings.parquet"))
    case "sweep_large" =>
      Workload(name, sweepOps(spark, dir, work, seed),
        2L * sizes("spans"), Seq("spans_a", "spans_b"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val spanDomain = 1000000000L

  /** sweep_large: synthetic span tables `a`/`b` (k, x, span<start,stop>). */
  private def sweepOps(spark: SparkSession, dir: String, work: String, seed: Long): Seq[Op] = {
    def a = spark.read.parquet(s"$dir/spans_a")
    def b = spark.read.parquet(s"$dir/spans_b")
    val dur = col("span.stop") - col("span.start")
    // default options: Auto's own choice between its paths is measured
    val named = JoinOptions(renamecols = (_ + "_a", _ + "_b"))
    val layout = s"$work/layout"
    val binWidth = spanDomain / LayoutBins
    val rng = new scala.util.Random(seed)
    val probes = Seq.fill(ProbesPerOp) {
      val lo = (rng.nextDouble() * spanDomain * 0.98).toLong
      (lo, lo + spanDomain / 100)
    }
    val aSql = "a AS (SELECT k, x, span['start'] AS s, span['stop'] AS e " +
      s"FROM read_parquet('$dir/spans_a/*.parquet'))"
    val bSql = "b AS (SELECT k, x, span['start'] AS s, span['stop'] AS e " +
      s"FROM read_parquet('$dir/spans_b/*.parquet'))"
    Seq(
      Op("join_auto_agg", "operators", () =>
        a.intervalJoin(b, "span", named)
          .groupBy("k_a")
          .agg(count(lit(1)).as("pairs"), sum(dur).as("overlap")),
        s"""WITH $aSql, $bSql
           |SELECT a.k AS k_a, count(*) AS pairs,
           |       CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT) AS overlap
           |FROM a JOIN b ON a.s < b.e AND b.s < a.e GROUP BY a.k""".stripMargin),

      // the README demo at scale: duration-weighted mean of x per window,
      // kept as exact integer sums so both engines agree bit for bit
      Op("grouped_wmean", "operators", () => {
        val left = a
        groupbyIntervalJoin(left, quantileWindows(64, left, "span", "idx"),
            Seq(Selector.Name("idx")), "span" -> "span")
          .agg(count(lit(1)).as("n"), sum(col("x") * dur).as("sxd"), sum(dur).as("sd"))
      },
        s"""WITH $aSql,
           |sp AS (SELECT min(s) AS lo, max(e) AS hi FROM a),
           |win AS (SELECT i + 1 AS idx,
           |               lo + i*((hi-lo)//64) + (i*((hi-lo)%64))//64 AS ws,
           |               lo + (i+1)*((hi-lo)//64) + ((i+1)*((hi-lo)%64))//64 AS we
           |        FROM sp, range(64) t(i)),
           |p AS (SELECT idx, x, least(e, we) - greatest(s, ws) AS d
           |      FROM a JOIN win ON s < we AND ws < e)
           |SELECT idx, count(*) AS n, CAST(sum(x * d) AS BIGINT) AS sxd,
           |       CAST(sum(d) AS BIGINT) AS sd
           |FROM p GROUP BY idx""".stripMargin),

      Op("merge_per_key", "operators", () =>
        a.mergeIntervals(Seq("k"))
          .select(col("k"), col("span.start").as("s"), col("span.stop").as("e"),
            col("n_merged")),
        s"""WITH $aSql,
           |f AS (SELECT k, s, e, CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
           |                      THEN 1 ELSE 0 END AS new
           |      FROM a WINDOW w AS (PARTITION BY k ORDER BY s, e
           |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
           |g AS (SELECT k, s, e, sum(new) OVER (PARTITION BY k ORDER BY s, e
           |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           |      FROM f)
           |SELECT k, min(s) AS s, max(e) AS e, count(*) AS n_merged
           |FROM g GROUP BY k, grp""".stripMargin),

      Op("layout_write", "sources", () => {
        IntervalLayout.write(a, layout, "span", binWidth)
        spark.read.parquet(layout).agg(count(lit(1)).as("n"),
          sum(col("span.start")).as("ss"), sum(col("span.stop")).as("se"),
          sum(col("x")).as("sx"))
      },
        s"""WITH $aSql
           |SELECT count(*) AS n, CAST(sum(s) AS BIGINT) AS ss,
           |       CAST(sum(e) AS BIGINT) AS se, CAST(sum(x) AS BIGINT) AS sx
           |FROM a""".stripMargin),

      Op("layout_probe", "sources", () =>
        probes.zipWithIndex.map { case ((lo, hi), i) =>
          IntervalLayout.readOverlapping(spark, layout, "span", lo, hi)
            .agg(lit(i).as("probe"), count(lit(1)).as("n"), sum(col("x")).as("sx"))
        }.reduce(_ unionByName _),
        s"WITH $aSql\n" + probes.zipWithIndex.map { case ((lo, hi), i) =>
          s"SELECT $i AS probe, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx " +
            s"FROM a WHERE s < $hi AND $lo < e"
        }.mkString("\nUNION ALL\n"))
    )
  }
}
