package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Bench.{median, timeIt}

/** Hub-cap TIME crossover bench (r7 verdict #3): the wedge-VOLUME cut
  * of the hub cap was measured in r7 (281× on the hub-dense fixture),
  * but at sf0.1 the capped query was slightly SLOWER than uncapped —
  * the fixture's modest hubs never repaid the cap's overhead. This
  * bench measures WALL CLOCK for capped vs uncapped link prediction
  * on synthetic graphs with a growing hub tail, producing the
  * crossover row for BASELINE.md.
  *
  * Graph family (deterministic, no RNG): N nodes in a k-regular ring
  * lattice (the "everyone has a few real affinities" base) plus h hub
  * nodes each wired to D distinct nodes by a coprime stride (the
  * "popular product co-purchased with everything" tail). Σ deg² — the
  * wedge volume the uncapped plan pays — is N·k² + h·D², so growing D
  * moves the workload from lattice-dominated to hub-dominated while
  * everything else stays fixed.
  *
  * Variants share [[graft.operators.GraphOps.recsFromFrames]] — the
  * exact plan the declared queries run — fed the same (e, und, deg)
  * frames; only `cap` differs. Sanity: at the smallest D with a cap
  * above the max degree, capped == uncapped row-for-row (the
  * GraphOpsSpec pin, re-checked here on the synthetic family).
  */
object GraphBench {

  /** Symmetric adjacency for (n nodes, ring degree k, h hubs of
    * degree d): one row per direction, no self-loops, no dup edges.
    */
  def undirected(spark: SparkSession, n: Long, k: Int, h: Int, d: Long): DataFrame = {
    val ring = spark.range(n).select(col("id").as("x"))
      .crossJoin(spark.range(1, k + 1).select(col("id").as("j")))
      .select(col("x"), ((col("x") + col("j")) % n).as("y"))
    // hub i sits at i*(n/h); its spokes step by a stride coprime to n
    // (odd stride vs even n below) so the d targets are distinct
    val stride = 2654435761L % n | 1L
    val hubs = spark.range(h).select((col("id") * (n / h)).as("x"))
      .crossJoin(spark.range(1, d + 1).select(col("id").as("j")))
      .select(col("x"), ((col("x") + col("j") * stride) % n).as("y"))
    val half = ring.unionAll(hubs).filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"), greatest(col("x"), col("y")).as("y"))
      .distinct()
    half.unionAll(half.select(col("y").as("x"), col("x").as("y")))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_graphbench")
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.create()

    val N = 200000L
    val K = 4
    val H = 8
    val Cap = 64
    val hubDegrees = Seq(0L, 1000L, 4000L, 16000L)

    // materialize each graph to parquet once (generation excluded
    // from timing — the edge store is ingest-time DDL in production)
    hubDegrees.foreach { d =>
      val path = s"$dir/und_n${N}_d$d"
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        undirected(spark, N, K, H, d)
          .repartition(cpus, col("x"))
          .write.mode("overwrite").parquet(path)
    }

    def frames(d: Long): (DataFrame, DataFrame, DataFrame) = {
      val und = spark.read.parquet(s"$dir/und_n${N}_d$d")
      val e = und.filter(col("x") < col("y"))
        .select(col("x").as("a"), col("y").as("b"))
      val deg = und.groupBy(col("x").as("n")).agg(count(lit(1)).as("deg"))
      (e, und, deg)
    }

    // sanity on the hubless lattice: max degree 2k <= cap, so the
    // capped plan must reproduce the uncapped answer exactly
    {
      val (e, und, deg) = frames(hubDegrees.head)
      val un = graft.operators.GraphOps.recsFromFrames(e, und, deg, None)
        .collect().map(_.toSeq).toSeq
      val cp = graft.operators.GraphOps.recsFromFrames(e, und, deg, Some(Cap))
        .collect().map(_.toSeq).toSeq
      require(un == cp, "capped diverged from uncapped on the hubless lattice")
    }

    val rows = hubDegrees.map { d =>
      val (e, und, deg) = frames(d)
      val wedgeVol = deg.agg(sum(col("deg") * col("deg"))).head().getLong(0)
      val tUn = median(Seq.fill(passes)(timeIt {
        graft.operators.GraphOps.recsFromFrames(e, und, deg, None).count()
      }))
      val tCap = median(Seq.fill(passes)(timeIt {
        graft.operators.GraphOps.recsFromFrames(e, und, deg, Some(Cap)).count()
      }))
      s""""d$d":{"wedge_vol":$wedgeVol,"uncapped":$tUn,"capped":$tCap}"""
    }
    println(s"""{"metric":"hub_cap_crossover","unit":"sec","passes":$passes,""" +
      s""""n":$N,"k":$K,"h":$H,"cap":$Cap,${rows.mkString(",")}}""")
    spark.stop()
  }
}
