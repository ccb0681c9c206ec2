package graft

import org.apache.spark.sql.SparkSession

/** Recommended session builder: graft extensions + the configuration
  * defaults the library is tuned for. `cores` is local-mode
  * parallelism; on a real cluster pass `master = None` and submit
  * normally (spark-submit --conf spark.sql.extensions=graft.GraftExtensions).
  *
  * It also serves `file:` with graft's local filesystem
  * ([[graft.sources.LocalFs.sparkConf]]): `spark.hadoop.fs.file.impl`
  * for the `FileSystem` API and `spark.hadoop.fs.AbstractFileSystem.file.impl`
  * for `FileContext`, which streaming checkpoints and state stores use.
  * Without `libhadoop` Hadoop's stock local filesystem forks a shell
  * for `chmod` on every file it creates and for `readlink` on every
  * rename; graft's does both through `java.nio` with the same results.
  * spark-submit users who do not call `build` pass both keys with
  * `--conf`. Hadoop caches a `FileSystem` per scheme for the JVM, so
  * a `file:` FileSystem that code in the driver JVM created before the
  * first session starts keeps its class; the `FileContext` side is
  * resolved afresh from each session's configuration.
  */
object GraftSession {
  def build(
      cores: Int = Runtime.getRuntime.availableProcessors(),
      appName: String = "graft",
      master: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // ObjectHashAggregate falls back to SORT-BASED aggregation after
      // this many distinct groups per task (default 128) regardless of
      // memory — for a bounded-buffer aggregate over many groups
      // (BoundedTopK: every corpus vector is a group in ann_knn_join)
      // that sorts the full input for no reason; measured 2.3x the
      // whole query at sf1. 64k × the library's object-agg buffers
      // (BoundedTopK ≤ k ids+scores ~200 B; ewma collect ≤ 32 structs
      // ~1 KB; dedup member lists ~ cluster size) is tens of MB per
      // task — while truly huge group counts (e.g. per-doc groups at
      // the decade SFs) still fall back exactly as before.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read nanos as long
      // (Tables.events rebuilds micros) instead of failing the scan
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(graft.sources.LocalFs.sparkConf)
      .withExtensions(new GraftExtensions)
    // Only force a master when the caller asked for one AND nothing is
    // already configured: under spark-submit the launcher sets
    // `spark.master` as a system property, and overriding it here would
    // silently run the whole job local-mode on the driver.
    val externallyConfigured = sys.props.contains("spark.master")
    val withMaster = master match {
      case Some(m)                        => b.master(m)
      case None if externallyConfigured   => b
      case None                           => b.master(s"local[$cores]")
    }
    val s = withMaster.getOrCreate()
    graft.plans.AsOf.register(s)
    // Documented JVM-global startup decision (ADVICE r18): image
    // decode streams stay in memory instead of cycling temp files —
    // payloads are already whole byte arrays, so the disk-backed
    // cache is pure overhead (measured 4.5 → 2.4 s on
    // mm_video_neardup). This mutates javax.imageio state for any
    // co-resident code in the driver JVM; the Multimodal object's
    // initializer applies the same setting on every executor JVM
    // that touches a media kernel.
    javax.imageio.ImageIO.setUseCache(false)
    s
  }
}
