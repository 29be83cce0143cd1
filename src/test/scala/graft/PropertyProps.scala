package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.operators.{RelationalQueries, SliQueries}

/** Property-based laws (SURVEY §5.2.3) over generated in-memory
  * DataFrames, exercising the *production* transform cores.
  *
  * Each sample runs a real local Spark job, so minSuccessfulTests is
  * kept small — the laws are about logic branches (gap boundaries,
  * tie-breaks, empty groups), not statistical coverage.
  */
abstract class SparkProps(name: String) extends Properties(name) {
  lazy val spark = TestSpark.spark
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)
}

object SessionizeProps extends SparkProps("sessionize") {
  // Per user: first event at t0, then gaps in seconds (0..7200 s).
  // Law: n_sessions = 1 + #(gap > 1800 s), strictly — a gap of
  // exactly 30 min does NOT split (matches `> 1800000 ms`).
  private val genUser: Gen[(Long, List[Long])] = for {
    uid <- Gen.choose(1L, 5L)
    gaps <- Gen.listOfN(12, Gen.oneOf(Gen.choose(0L, 7200L), Gen.const(1800L)))
  } yield (uid, gaps)

  property("n_sessions = 1 + count(gap > 30min), per user") =
    forAll(Gen.nonEmptyListOf(genUser).map(_.distinctBy(_._1))) { users =>
      val sess = spark.createDataFrame(
        users.flatMap { case (uid, gaps) =>
          gaps.scanLeft(0L)(_ + _).zipWithIndex.map { case (offS, i) =>
            (uid * 1000 + i, uid, new Timestamp(1700000000000L + offS * 1000))
          }
        }
      ).toDF("event_id", "user_id", "ts")
      val got = SliQueries.sessionized(sess)
        .groupBy("user_id").agg(max("session_id").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      users.forall { case (uid, gaps) =>
        got(uid) == 1 + gaps.count(_ > 1800L)
      }
    }

  property("session ids are dense 1..n and non-decreasing in time") =
    forAll(genUser) { case (uid, gaps) =>
      val sess = spark.createDataFrame(
        gaps.scanLeft(0L)(_ + _).zipWithIndex.map { case (offS, i) =>
          (i.toLong, uid, new Timestamp(1700000000000L + offS * 1000))
        }
      ).toDF("event_id", "user_id", "ts")
      val ids = SliQueries.sessionized(sess)
        .orderBy("ts", "event_id").select("session_id")
        .collect().map(_.getLong(0)).toList
      ids.head == 1L &&
        ids.zip(ids.tail).forall { case (a, b) => b == a || b == a + 1 }
    }
}

object AsofProps extends SparkProps("asof") {
  // Events per user: mixed kinds at generated second offsets
  // (duplicates allowed — exercises the equal-ts tie-break: a view at
  // exactly the purchase's ts counts as a prior view).
  private val genEvents: Gen[List[(Long, Long, Long, Int)]] = for {
    n <- Gen.choose(2, 25)
    rows <- Gen.listOfN(n, for {
      uid <- Gen.choose(1L, 3L)
      off <- Gen.choose(0L, 1000L)
      kind <- Gen.oneOf(0, 1)
    } yield (uid, off, kind))
  } yield rows.zipWithIndex.map { case ((u, o, k), i) => (i.toLong, u, o, k) }

  property("last_view_ts is the max view ts <= anchor ts (or null)") =
    forAll(genEvents) { rows =>
      val df = spark.createDataFrame(
        rows.map { case (id, uid, off, kind) =>
          (id, uid, new Timestamp(1700000000000L + off * 1000), kind)
        }
      ).toDF("event_id", "user_id", "ts", "kind")
      val got = RelationalQueries.asofMatched(df)
        .select(col("event_id"), unix_millis(col("ts")).as("ts"),
          col("user_id"), unix_millis(col("last_view_ts")).as("lv"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
      val viewsByUser = rows.filter(_._4 == 0)
        .groupBy(_._2).view.mapValues(_.map(v => 1700000000000L + v._3 * 1000)).toMap
      got.forall { case (_, ts, uid, lv) =>
        val expect = viewsByUser.getOrElse(uid, Nil).filter(_ <= ts) match {
          case Nil => None
          case vs  => Some(vs.max)
        }
        lv == expect
      } && got.length == rows.count(_._4 == 1)
    }
}

object MinhashProps extends SparkProps("minhash_lsh") {
  import graft.operators.DedupOps

  // Controlled-overlap corpus: doc 2i is a random n-token set, doc
  // 2i+1 replaces d of its tokens → true jaccard = (n-d)/(n+d).
  // With k=64, b=16, r=4: P(miss | j≥0.85) = (1-j⁴)¹⁶ < 1e-5, and
  // verification makes sub-threshold output impossible, so both
  // directions of the law are effectively deterministic.
  private val genCorpus: Gen[List[(Long, Int, List[String])]] = for {
    nPairs <- Gen.choose(2, 5)
    seeds <- Gen.listOfN(nPairs, Gen.choose(0L, Long.MaxValue))
    dists <- Gen.listOfN(nPairs, Gen.oneOf(0, 2, 5, 30))
  } yield seeds.zip(dists).zipWithIndex.flatMap { case ((seed, d), i) =>
    val rnd = new scala.util.Random(seed)
    val n = 60
    val base = List.fill(n)(s"t${rnd.nextLong()}").distinct
    val variant = base.drop(d) ++ List.fill(d)(s"v${rnd.nextLong()}")
    List((2L * i, d, base), (2L * i + 1, d, variant))
  }

  property("pairs with jaccard >= 0.85 are always found; < 0.8 never reported") =
    forAll(genCorpus) { corpus =>
      val docs = spark.createDataFrame(
        corpus.map { case (id, _, toks) => (id, "xx", toks) }
      ).toDF("doc_id", "lang", "toks")
      val found = DedupOps.minhashPairs(docs)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      corpus.grouped(2).forall { pair =>
        val (aId, d, base) = pair.head
        val (bId, _, variant) = pair(1)
        val inter = base.toSet.intersect(variant.toSet).size
        val j = inter.toDouble / (base.toSet ++ variant.toSet).size
        val hit = found.contains((aId, bId))
        if (j >= 0.85) hit else if (j < 0.8) !hit else true
      }
    }
}

object SrpProps extends SparkProps("srp_lsh") {
  import graft.operators.AnnOps

  // Corpus: pairs (v, v + 0.05·noise) → cos ≈ 0.999 (must be found)
  // plus independent random vectors (pairwise cos ≈ 0 — never
  // reported: verification thresholds at 0.9).
  private val genVecs: Gen[(List[(Long, Seq[Double])], Set[(Long, Long)])] = for {
    nPairs <- Gen.choose(2, 4)
    nNoise <- Gen.choose(3, 6)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield {
    val rnd = new scala.util.Random(seed)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val pairs = (0 until nPairs).map { i =>
      val v = vec()
      val w = v.map(_ + 0.05 * rnd.nextGaussian())
      Seq((2L * i, v.toSeq), (2L * i + 1, w.toSeq))
    }
    val noise = (0 until nNoise).map(i => (1000L + i, vec().toSeq))
    (pairs.flatten.toList ++ noise.toList,
      (0 until nPairs).map(i => (2L * i, 2L * i + 1)).toSet)
  }

  property("perturbed pairs always found; independent vectors never reported") =
    forAll(genVecs) { case (rows, truePairs) =>
      val df = spark.createDataFrame(rows).toDF("vec_id", "emb")
      val found = AnnOps.srpNearDupPairs(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      truePairs.subsetOf(found) &&
        (found -- truePairs).isEmpty // random 64-dim cos ~ N(0, 1/8) never hits 0.9
    }

  // r11: the fused native signature expression must equal the per-bit
  // when(dot > 0) reference form bit-for-bit on arbitrary vectors —
  // the candidate SET (and srp_near_dup's reported candidate count)
  // depends on every bit. Null embeddings ride along: both forms
  // return NULL for them, never a 0 signature that would band a
  // missing vector with every all-negative one.
  property("native srp signature == per-bit reference form, all widths") =
    forAll(genVecs) { case (rows, _) =>
      val withNulls = rows ++ List((9000L, null: Seq[Double]), (9001L, null: Seq[Double]))
      val df = spark.createDataFrame(withNulls).toDF("vec_id", "emb")
      Seq(16, 32, 60).forall { nBits =>
        val got = df.select(col("vec_id"),
            AnnOps.srpSignature(col("emb"), dim = 64, nBits = nBits).as("a"),
            AnnOps.srpSignatureRef(col("emb"), dim = 64, nBits = nBits).as("b"))
          .collect()
        got.forall(r =>
          if (r.getLong(0) >= 9000L) r.isNullAt(1) && r.isNullAt(2)
          else !r.isNullAt(1) && !r.isNullAt(2) && r.getLong(1) == r.getLong(2))
      }
    }
}

object WeightedAvgProps extends SparkProps("weighted_avg") {
  private val genVW: Gen[List[(Double, Long)]] =
    Gen.nonEmptyListOf(for {
      v <- Gen.choose(-1000.0, 1000.0)
      w <- Gen.choose(1L, 50L)
    } yield (math.rint(v * 100) / 100, w))

  property("min <= weighted_avg <= max") = forAll(genVW) { vw =>
    val df = spark.createDataFrame(vw).toDF("v", "w")
    val got = df.agg(SliQueries.weightedAvg(col("v"), col("w")).as("wa"))
      .collect().head.getDouble(0)
    val (lo, hi) = (vw.map(_._1).min, vw.map(_._1).max)
    got >= lo - 1e-9 && got <= hi + 1e-9
  }

  property("constant weights => weighted_avg == plain avg") = forAll(genVW) { vw =>
    val const = vw.map { case (v, _) => (v, 7L) }
    val df = spark.createDataFrame(const).toDF("v", "w")
    val got = df.agg(SliQueries.weightedAvg(col("v"), col("w")).as("wa"))
      .collect().head.getDouble(0)
    val avg = vw.map(_._1).sum / vw.size
    math.abs(got - avg) < 1e-9 * math.max(1.0, math.abs(avg))
  }

  property("all-zero weights => null (no division by zero)") =
    forAll(Gen.nonEmptyListOf(Gen.choose(-100.0, 100.0))) { vs =>
      val df = spark.createDataFrame(vs.map(v => (v, 0L))).toDF("v", "w")
      df.agg(SliQueries.weightedAvg(col("v"), col("w")).as("wa"))
        .collect().head.isNullAt(0)
    }
}

object UpsertProps extends SparkProps("upsert") {
  import graft.sources.Upsert

  // batches of (event_id, version-minute, value); several batches
  // overlap keys — the sink invariant is LAST-version-wins per key,
  // independent of batch order, count, or replays.
  private case class Batches(bs: List[List[(Long, Int, Double)]])

  private val genBatches: Gen[Batches] = for {
    nBatches <- Gen.choose(1, 4)
    bs <- Gen.listOfN(nBatches, Gen.nonEmptyListOf(for {
      key <- Gen.choose(1L, 12L)
      ver <- Gen.choose(0, 500)
      v <- Gen.choose(-100.0, 100.0)
    } yield (key, ver, math.rint(v * 100) / 100)))
  } yield Batches(bs)

  property("sink == latest-version-wins over all ingested rows; replay-stable") =
    forAll(genBatches) { case Batches(bs) =>
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_upsert_prop").toString
      val path = s"$dir/sink"
      def toDf(b: List[(Long, Int, Double)]) =
        b.toDF("event_id", "ver", "value")
          .withColumn("ts", timestamp_micros(lit(1704067200000000L) + col("ver") * 60000000L))
          .drop("ver")
      bs.foreach(b => Upsert.upsertDatePartitioned(spark, path, toDf(b), Seq("event_id")))
      // replay the last batch — must change nothing
      Upsert.upsertDatePartitioned(spark, path, toDf(bs.last), Seq("event_id"))
      val got = spark.read.parquet(path)
        .select("event_id", "ts", "value").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).sorted.toSeq
      // expected: per key, the row with max ts; later batches win ties
      // (their row replaces an equal-ts predecessor). Track per-key
      // (ts, batchIdx, value): max by (ts) with later-batch override.
      val expect = bs.zipWithIndex
        .flatMap { case (b, i) =>
          // within one batch the upsert dedups by max ts
          b.groupBy(_._1).map { case (k, rows) =>
            val best = rows.maxBy(_._2)
            (k, best._2, i)
          }
        }
        .groupBy(_._1)
        .map { case (k, entries) =>
          // across batches: a later batch's row wins iff it has the
          // max ts among... no: later batch REPLACES the key whenever
          // it carries it at all
          val last = entries.maxBy(_._3)
          (k, 1704067200000000L / 1000 + last._2 * 60000L)
        }
        .toSeq.sorted
      got == expect
    }
}

object NanosPushdownProps extends SparkProps("nanos_pushdown") {
  import graft.plans.NanosRangePushdown
  import graft.sources.Tables

  // random µs-precision bounds (not just midnights) around the
  // fixture's 2024-01 range; every comparison op; rule-on results
  // must equal rule-off results exactly (the added conjuncts are
  // supposed to be supersets — floor-edge bugs would drop rows here)
  private val genBound: Gen[(String, Long)] = for {
    op <- Gen.oneOf(">=", ">", "<", "<=", "=")
    // 2024-01-01 .. 2024-01-20, arbitrary microsecond offset
    micros <- Gen.choose(1704067200000000L, 1705708800000000L)
  } yield (op, micros)

  property("rule-on == rule-off for arbitrary µs bounds and all comparison ops") =
    forAll(genBound) { case (op, micros) =>
      val dir = "/root/testdata/sf0.001"
      def run(): Seq[Long] =
        Tables.events(spark, dir)
          .filter(expr(s"ts $op timestamp_micros(${micros}L)"))
          .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      val withRule = run()
      spark.conf.set(NanosRangePushdown.ConfKey, "false")
      val withoutRule = try run() finally spark.conf.unset(NanosRangePushdown.ConfKey)
      withRule == withoutRule
    }
}

object PqProps extends SparkProps("pq_codes") {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._
  import graft.operators.{OpqLite, PqIndex}

  private val genVec: Gen[Seq[Double]] =
    Gen.listOfN(64, Gen.choose(-8.0, 8.0)).map(_.toSeq)

  private def frame(vs: List[Seq[Double]]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        vs.zipWithIndex.map { case (v, i) => Row((i + 1).toLong, v) }),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("emb", ArrayType(DoubleType)))))

  // Law: encoding is total and in-range for ARBITRARY vectors — every
  // code vector has exactly M entries in [0, K), with any codebook
  // trained on any (>= K vectors) corpus.
  property("encode: M codes, each in [0, K), for arbitrary corpora") =
    forAll(Gen.listOfN(20, genVec)) { vs =>
      val df = frame(vs)
      val cb = PqIndex.trainCodebooks(df, iters = 1)
      val bad = df.select(PqIndex.encode(col("emb"), cb).as("c"))
        .filter(size(col("c")) =!= PqIndex.M ||
          exists(col("c"), x => x < 0 || x >= PqIndex.K))
        .count()
      bad == 0L
    }

  // Law: the balancing permutation is a bijection of 0..63 for
  // ARBITRARY variance profiles (ties, zeros, equal values), and
  // permuting preserves the vector as a multiset.
  property("balancedPermutation: bijection; permute preserves multiset") =
    forAll(Gen.listOfN(64, Gen.choose(0.0, 100.0))) { vars =>
      val perm = OpqLite.balancedPermutation(vars.toSeq)
      val bijective = perm.sorted == (0 until 64)
      val v = (1 to 64).map(_.toDouble)
      val permuted = perm.map(i => v(i))
      bijective && permuted.sorted == v.sorted
    }
}

object WeightedMedianProps extends SparkProps("weighted_median") {
  import graft.operators.RelationalQueries

  // (price on a 2-dp grid, integer weight) — duplicates and hot
  // prices welcome; the naive reference is the defining cumulative
  // cutover computed in plain Scala.
  private val genRow: Gen[(Double, Long)] = for {
    cents <- Gen.choose(100L, 99999L)
    w <- Gen.choose(1L, 9L)
  } yield (cents / 100.0, w)

  property("two-pass histogram == naive cumulative cutover for arbitrary weighted sets") =
    forAll(Gen.nonEmptyListOf(genRow)) { rows =>
      import spark.implicits._
      val d = java.nio.file.Files.createTempDirectory("graft_wmp_prop").toString
      rows.zipWithIndex.map { case ((p, w), i) =>
        ((i + 1).toLong, 1L, 1L, 1, w.toDouble, p, 0.0, 0.0, "A", "O",
          new Timestamp(1700000000000L))
      }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
        .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
      val got = RelationalQueries.weightedMedianPrice(spark, d).collect()(0)
      val total = rows.map(_._2).sum.toDouble
      val cum = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum)
        .toSeq.sortBy(_._1)
        .scanLeft((0.0, 0.0)) { case ((_, c), (p, w)) => (p, c + w) }.drop(1)
      val expect = cum.find(_._2 >= total / 2).get._1
      got.getDouble(1) == math.rint((expect + 1e-7) * 1e4) / 1e4 &&
        got.getDouble(2) == total
    }
}

object LabelSepProps extends SparkProps("label_separation") {
  import graft.operators.AnnOps

  private val genVec: Gen[Seq[Float]] =
    Gen.listOfN(8, Gen.choose(-4.0f, 4.0f).suchThat(v => !v.isNaN)).map(_.toSeq)
      .suchThat(v => v.exists(x => math.abs(x) > 1e-3))

  // Law: the O(n·d) moment algebra equals the naive O(n²·d) pairwise
  // means for ARBITRARY labeled vector sets (2 labels × 2-4 vectors).
  property("moment algebra == naive pairwise means for arbitrary labeled sets") =
    forAll(Gen.zip(Gen.listOfN(3, genVec), Gen.listOfN(3, genVec))) {
      case (l0, l1) =>
        import spark.implicits._
        val d = java.nio.file.Files.createTempDirectory("graft_lsep_prop").toString
        (l0.map((_, 0)) ++ l1.map((_, 1))).zipWithIndex
          .map { case ((v, lb), i) => ((i + 1).toLong, v, lb) }
          .toDF("vec_id", "embedding", "label")
          .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
        def unit(v: Seq[Float]): Seq[Double] = {
          val dv = v.map(_.toDouble)
          val n = math.sqrt(dv.map(x => x * x).sum)
          dv.map(_ / n)
        }
        val us = (l0.map(unit).map((_, 0)) ++ l1.map(unit).map((_, 1)))
        def cos(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
        def meanCos(as: Seq[Seq[Double]], bs: Seq[Seq[Double]], same: Boolean) = {
          val ps = for {
            (a, i) <- as.zipWithIndex; (b, j) <- bs.zipWithIndex
            if !same || i != j
          } yield cos(a, b)
          ps.sum / ps.size
        }
        val got = AnnOps.labelSeparation(spark, d).collect()
          .map(r => r.getInt(0) -> (r.getDouble(2), r.getDouble(3))).toMap
        Seq(0, 1).forall { lb =>
          val mine = us.filter(_._2 == lb).map(_._1)
          val rest = us.filter(_._2 != lb).map(_._1)
          val (gi, gx) = got(lb)
          math.abs(gi - meanCos(mine, mine, same = true)) < 1.1e-4 &&
            math.abs(gx - meanCos(mine, rest, same = false)) < 1.1e-4
        }
    }
}
