package probe

import org.apache.spark.sql.SparkSession
import graft.operators

/** Banded-simhash scale decomposition probe (round 17 — VERDICT r16
  * #3: SCALING.md's r16 banding section attributes its candidate-mass
  * numbers, 5.80 B single-band vs 1.56 B agree-2 at sf100, to this
  * main; it must be reproducible from the repo).
  *
  * What it does, over the REAL wide-simhash signature frame (60 bits,
  * hamming ≤ 4 — exactly what the registered `dedup_simhash_banded`
  * runs):
  *
  *  1. Always: run [[graft.operators.Dedup.chooseBandingConfig]] FRESH
  *     (no memoization) and print one JSON line with the corpus size,
  *     each agree rung's measured (sample-rescaled) collision mass and
  *     modeled cost, and the chosen rung — the dispatch evidence.
  *  2. `--time`: additionally run the CHOSEN rung's kernel to a
  *     `count()` (Catalyst elides the presentation sort under the
  *     aggregate, so this isolates signature build + join + filter
  *     from the output sort — the r16 decomposition's 518.6 s-style
  *     number); `--time-all` times EVERY feasible rung (pair counts
  *     are identical across rungs — every rung is total-recall — so
  *     this doubles as a cross-config output check; at big SFs the
  *     losing rungs cost real wall clock, hence the opt-in).
  *  3. `--cap N`: run the agree-2 capped kernel
  *     ([[graft.operators.Dedup.bandedHammingPairsCapped]]) at
  *     band-df cap N and print retained vs uncapped pair counts — the
  *     measured recall contract of the cap (the lossy alternative to
  *     raising agree; see Calibration.recallAtCaps for the general
  *     pricing API).
  *
  * Usage, after `sbt Test/compile` (it lives in test scope):
  * `SPARK_GRAFT_CP=target/scala-2.13/classes:target/scala-2.13/test-classes
  *  tools/run_main.sh probe.SimhashProbe <sfDir> [--time] [--cap N]`
  */
object SimhashProbe {

  private val Bits = 60
  private val MaxHamming = 4

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val timeAll = args.contains("--time-all")
    val doTime = timeAll || args.contains("--time")
    val cap: Option[Long] = args.sliding(2).collectFirst {
      case Array("--cap", n) => n.toLong }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // the registered query's signature frame, persisted once: every
    // probe/kernel below self-joins it, and at sf100 the signature
    // build (a full corpus scan + 60 aggregate folds) costs minutes —
    // billing it per rung would swamp the join-cost differences the
    // probe exists to expose
    val sigs = operators.Dedup.simhashWideSigsForProbe(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = sigs.count()
      val t0 = System.nanoTime()
      val c = operators.Dedup.chooseBandingConfig(sigs, Bits, MaxHamming)
      val probeSec = (System.nanoTime() - t0) / 1e9
      val rungs = c.costByAgree.keys.toSeq.sorted
      val byAgree = rungs.map { k =>
        s""""$k":{"mass":${"%.0f".format(c.massByAgree(k))},""" +
          s""""cost":${"%.0f".format(c.costByAgree(k))}}"""
      }.mkString("{", ",", "}")
      println(s"""{"probe":"banding","sf_dir":"$sfDir","docs":$n,""" +
        s""""bits":$Bits,"max_hamming":$MaxHamming,""" +
        s""""chosen_agree":${c.agree},"by_agree":$byAgree,""" +
        s""""probe_sec":${"%.1f".format(probeSec)}}""")

      if (doTime) rungs.filter(k => timeAll || k == c.agree).foreach { k =>
        val kernel = operators.Dedup.bandedHammingPairs(
          sigs, Bits, MaxHamming + k, MaxHamming)
        val s0 = System.nanoTime()
        val pairs = kernel.count() // sort elided under the aggregate
        val sec = (System.nanoTime() - s0) / 1e9
        println(s"""{"probe":"kernel_time","agree":$k,"pairs":$pairs,""" +
          s""""sec":${"%.1f".format(sec)}}""")
      }

      cap.foreach { dfCap =>
        val total = operators.Dedup.bandedHammingPairs(
          sigs, Bits, MaxHamming + 2, MaxHamming).count()
        val s0 = System.nanoTime()
        val kept = operators.Dedup.bandedHammingPairsCapped(
          sigs, Bits, MaxHamming + 2, MaxHamming, dfCap).count()
        val sec = (System.nanoTime() - s0) / 1e9
        val recall = if (total == 0L) 1.0 else kept.toDouble / total
        println(s"""{"probe":"capped_recall","band_df_cap":$dfCap,""" +
          s""""retained_pairs":$kept,"total_pairs":$total,""" +
          s""""recall":${"%.4f".format(recall)},"capped_sec":${"%.1f".format(sec)}}""")
      }
    } finally {
      sigs.unpersist(blocking = true)
    }
    spark.stop()
  }
}
