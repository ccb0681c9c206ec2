package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Calibration practice main (round 16 — VERDICT r15 #3): run
  * [[graft.operators.Calibration.capProfile]] over the REAL corpus
  * postings that the two shipped hot-key caps guard —
  * `Dedup.winnowPairs`'s fingerprint postings (constant `WinnowMaxDf`
  * = 64) and `Multimodal.videoDupStats`'s band postings
  * (`Multimodal.frameBandPostings`, 10 two-band subset keys per frame;
  * constant `VideoBandDfCap` = 1024) — and print one JSON line per
  * (family, budget), so the constants sit next to what the kernel
  * would actually recommend on the corpus (SCALING.md records the
  * rows; until this main existed the kernel had only seen planted
  * spec data).
  *
  * Budgets are expressed in candidate pairs PER POSTING: with cap c
  * the kept pair mass is bounded by (c−1)/2 pairs per posting, so the
  * shipped constants imply worst-case budgets of ~31.5×P (winnowing)
  * and ~511.5×P (video) — profiling at {1, 8, 32} pairs/posting spans
  * "tight" to "the winnowing constant's own envelope". One JSON line
  * per profile on stdout:
  * `{"family":…,"postings":P,"budget_per_posting":m,…,"constant":64}`.
  *
  * Usage: `tools/run_main.sh graft.Calibrate <sfDir> [mult,mult,...]`.
  */
object Calibrate {

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mults: Seq[Long] =
      args.lift(1).map(_.split(",").toSeq.map(_.toLong)).getOrElse(Seq(1L, 8L, 32L))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the local filesystem GraftSession.build serves file: with
      .config(graft.sources.LocalFs.sparkConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    profileFamily(spark, "winnowing", constant = 64L, mults) {
      operators.Dedup.winnowFingerprintHashes(Tables.documents(spark, sfDir))
    } (Seq("fp_h"))

    profileFamily(spark, "video_bands", constant = 1024L, mults) {
      operators.Multimodal.frameBandPostings(
        operators.Multimodal.demuxFrameHashes(
          operators.Multimodal.syntheticClips(spark, sfDir))
          .toDF("doc_id", "frame_no", "phash"))
    } (Seq("band", "bv"))

    // validate-recall step (round 16 — the video A/B lesson: a
    // pair-mass recommendation is one point on the cost-recall
    // frontier until a labeled sample prices the recall side). The
    // synthetic clip corpus carries its own labels — doc pair
    // (2k, 2k+1) is the same clip re-encoded — so the video family's
    // recall at {the 32×P recommendation, the shipped constant} is
    // printed next to the profiles.
    {
      import org.apache.spark.sql.functions._
      val postings = operators.Multimodal.frameBandPostings(
        operators.Multimodal.demuxFrameHashes(
          operators.Multimodal.syntheticClips(spark, sfDir))
          .toDF("doc_id", "frame_no", "phash"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val p = postings.count()
        val rec = operators.Calibration
          .capProfile(postings, Seq("band", "bv"), math.max(1L, 32L * p))
          .recommendedCap
        // ADVICE r16: a labeled pair only counts if BOTH members exist
        // in the corpus — syntheticClips materializes clips per present
        // doc_id, so a parity gap (odd id without its even partner or
        // vice versa) would otherwise be a permanent miss at EVERY cap,
        // deflating the printed recall independent of the cap under
        // test. Two semi-joins restrict the generated pairs to those
        // the clip table can actually retain.
        val ids = Tables.documents(spark, sfDir).select(col("doc_id"))
        val labeled = ids
          .select((col("doc_id") - (col("doc_id") % 2)).as("doc_a"),
            (col("doc_id") - (col("doc_id") % 2) + 1).as("doc_b"))
          .distinct()
          .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
          .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
        val caps = if (rec == 1024L) Seq(rec) else Seq(rec, 1024L)
        operators.Calibration.recallAtCaps(postings, Seq("band", "bv"),
            "doc_id", labeled, caps).foreach { r =>
          println(s"""{"family":"video_bands","validate":"planted-pair recall",""" +
            s""""cap":${r.cap},"retained":${r.retainedPairs},""" +
            s""""total":${r.totalPairs},"recall":${"%.4f".format(r.recall)}}""")
        }
      } finally {
        postings.unpersist(blocking = true)
        CacheHygiene.sweep(spark, blocking = true)
      }
    }

    spark.stop()
  }

  /** Persist the postings once, profile at each budget, print JSON. */
  private def profileFamily(spark: SparkSession, family: String,
      constant: Long, mults: Seq[Long])(postings0: => org.apache.spark.sql.DataFrame)(
      keyCols: Seq[String]): Unit = {
    val postings = postings0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p = postings.count()
      mults.foreach { m =>
        val budget = math.max(1L, m * p)
        val prof = operators.Calibration.capProfile(postings, keyCols, budget)
        println(s"""{"family":"$family","postings":$p,""" +
          s""""budget_per_posting":$m,"budget":$budget,""" +
          s""""recommended_cap":${prof.recommendedCap},""" +
          s""""kept_pair_mass":${prof.keptPairMass},""" +
          s""""dropped_pair_mass":${prof.droppedPairMass},""" +
          s""""total_pair_mass":${prof.totalPairMass},""" +
          s""""total_keys":${prof.totalKeys},""" +
          s""""dropped_keys":${prof.droppedKeys},""" +
          s""""max_df":${prof.maxDf},"constant":$constant}""")
      }
    } finally {
      postings.unpersist(blocking = true)
      CacheHygiene.sweep(spark, blocking = true)
    }
  }
}
