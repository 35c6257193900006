package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{PerceptualHash, VideoFingerprint}
import graft.sources.Tables

/** Perceptual-family shard-ingest scaling probe: the cost of pairing ONE
  * fixed-size shard of media signatures against the PERSISTED signature
  * index as the standing corpus grows 1×/k×/K× — the measurement behind
  * the round-14 asymmetric rewrite of `Dedup.sigDedupIncremental` /
  * `fpSharedPairsIncremental` (candidate generation joins only the
  * shard-side rep chunks against the capped union buckets, so per-shard
  * pair work is O(shard × bucket); the union is touched only by LINEAR
  * passes — the star window and the bucket-size cap).
  *
  * Signature-level on purpose: decode cost (BMP walk / WAV FFT) is
  * per-shard-constant and already measured elsewhere (dedup_afp /
  * dedup_video bench entries); what must stay flat as the corpus grows
  * is the PAIRING. phash and afp share `sigDedupIncremental` verbatim
  * (one scalar-signature core), so one scalar probe covers both; video
  * probes `fpSharedPairsIncremental` (set-valued shared-count rollup).
  *
  * Corpus shape: 2% of items sit in Hamming-≤2 5-cliques (shared-frame
  * cliques for video), the rest are unique singletons — a realistic dup
  * fraction so pair output stays output-sized. The probe shard is half
  * RE-ENCOUNTERS (Hamming-1 / 4-shared-frame variants of standing items
  * — must pair against the index alone) and half fresh singletons.
  * "full" is the same pair generation run over (corpus ∪ shard) as one
  * bootstrap shard — what recurating instead of ingesting would pay.
  *
  * Run: `sbt "runMain graft.tools.SigScaleProbe [baseRows] [k] [K]"`;
  * results are committed to BENCH_NOTES.md.
  */
object SigScaleProbe {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Scalar signature of corpus item `id`: family fam = id/5, variant
    * v = id%5; every 50th family is a Hamming-≤2 5-clique (v = 0 the
    * base, v > 0 flips bit v), the rest unique singletons.
    */
  private def scalarSigExpr(id: Column): Column = {
    val fam = floor(id / 5).cast("long")
    val v = (id % 5).cast("int")
    val flip = when(v === 1, 2L).when(v === 2, 4L)
      .when(v === 3, 8L).when(v === 4, 16L).otherwise(0L)
    when(fam % 50 === 0, xxhash64(concat(lit("f"), fam)).bitwiseXOR(flip))
      .otherwise(xxhash64(concat(lit("u"), id)))
  }

  /** Frame signature `j` (0..5) of corpus clip `id`: duplicated families
    * share their first 6−v frames (the fixture lattice at scale).
    */
  private def videoFpExpr(id: Column, j: Column): Column = {
    val fam = floor(id / 5).cast("long")
    val v = (id % 5).cast("int")
    when(fam % 50 === 0 && j < lit(6) - v,
      xxhash64(concat(lit("vf"), fam, lit("_"), j)))
      .otherwise(xxhash64(concat(lit("vu"), id, lit("_"), j)))
  }

  def main(args: Array[String]): Unit = {
    val baseRows = args.headOption.map(_.toLong).getOrElse(100000L)
    val midMul = args.lift(1).map(_.toInt).getOrElse(8)
    val bigMul = args.lift(2).map(_.toInt).getOrElse(32)
    // Saturation probe (BENCH_NOTES §21/§28): arg 4 sizes the shard —
    // a ~100k-distinct-sig shard saturates the narrow 4×16-bit band
    // keyspace.
    val shardN = args.lift(3).map(_.toLong).getOrElse(20000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables
      .configure(
        SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus)
          .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val shift = baseRows * (bigMul + 2L)
    // Re-encounter sources: distinct standing ids present in EVERY
    // corpus size (7i+1 < baseRows), so the shard is identical across
    // the sweep and only the corpus grows.
    require(7 * (shardN / 2) + 1 < baseRows,
      s"baseRows=$baseRows too small for a $shardN-item shard (need > ${7 * shardN / 2 + 1})")

    Seq((1, "x1"), (midMul, s"x$midMul"), (bigMul, s"x$bigMul")).foreach {
      case (mul, label) =>
        val n = baseRows * mul

        // ---- scalar core (phash; afp rides the same code path) ----
        val corpus = spark.range(n)
          .select(col("id").as("media_id"), scalarSigExpr(col("id")).as("phash"))
          .cache()
        corpus.count()
        val srcIds = spark.range(shardN / 2).select((col("id") * 7 + 1).as("srcId"))
        val reEnc = srcIds.select((col("srcId") + shift).as("media_id"),
          scalarSigExpr(col("srcId")).bitwiseXOR(lit(512L)).as("phash"))
        val fresh = spark.range(shardN / 2)
          .select((col("id") + shift + shardN).as("media_id"),
            xxhash64(concat(lit("nu"), col("id"))).as("phash"))
        val shard = graft.plans.Materialize(reEnc.unionByName(fresh))
        val la0 = loadavg()
        var pairsIncr = 0L
        val tIngest = time {
          pairsIncr = PerceptualHash
            .dedupIncrementalSigs(shard, corpus, maxHamming = 2).count()
        }
        var pairsFull = 0L
        val tFull = time {
          pairsFull = PerceptualHash
            .dedupIncrementalSigs(corpus.unionByName(shard),
              corpus.limit(0), maxHamming = 2).count()
        }
        println(f"[sig-scale] scalar $label%-4s corpus=$n%9d shard=$shardN%6d " +
          f"ingest=$tIngest%6.2fs (pairs=$pairsIncr) full=$tFull%7.2fs " +
          f"(pairs=$pairsFull) loadavg=$la0%.2f")
        corpus.unpersist()

        // ---- set-valued core (video shared-frame rollup) ----
        // SPARK_GRAFT_SCALAR_ONLY skips it: the band-width A/B probes
        // only exercise the scalar (Hamming-banded) core.
        if (!sys.env.contains("SPARK_GRAFT_SCALAR_ONLY")) {
        val vCorpus = spark.range(n)
          .select(col("id").as("media_id"), explode(sequence(lit(0), lit(5))).as("j"))
          .select(col("media_id"), videoFpExpr(col("media_id"), col("j")).as("vfp"))
          .cache()
        vCorpus.count()
        val vReEnc = srcIds
          .select(col("srcId"), explode(sequence(lit(0), lit(3))).as("j"))
          .select((col("srcId") + shift).as("media_id"),
            videoFpExpr(col("srcId"), col("j")).as("vfp"))
        val vFresh = spark.range(shardN / 2)
          .select((col("id") + shift + shardN).as("media_id"),
            explode(sequence(lit(0), lit(5))).as("j"))
          .select(col("media_id"),
            xxhash64(concat(lit("nv"), col("media_id"), lit("_"), col("j"))).as("vfp"))
        val vShard = graft.plans.Materialize(vReEnc.unionByName(vFresh))
        val vla = loadavg()
        var vPairsIncr = 0L
        val vIngest = time {
          vPairsIncr = VideoFingerprint
            .dedupIncrementalSigs(vShard, vCorpus, minShared = 3L).count()
        }
        var vPairsFull = 0L
        val vFull = time {
          vPairsFull = VideoFingerprint
            .dedupIncrementalSigs(vCorpus.unionByName(vShard),
              vCorpus.limit(0), minShared = 3L).count()
        }
        println(f"[sig-scale] video  $label%-4s corpus=$n%9d shard=$shardN%6d " +
          f"ingest=$vIngest%6.2fs (pairs=$vPairsIncr) full=$vFull%7.2fs " +
          f"(pairs=$vPairsFull) loadavg=$vla%.2f")
        vCorpus.unpersist()
        }
    }
    spark.stop()
  }
}
