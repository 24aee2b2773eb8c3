package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-file Bloom-filter sidecar + point-lookup file pruning — the
  * equality-predicate complement of [[ZoneMaps]]: zone maps prune
  * RANGE predicates on clustered layouts, but a point lookup on a
  * high-cardinality key over a randomly-laid-out table overlaps every
  * file's [min,max] and prunes nothing. A per-file Bloom filter
  * (Delta's bloom filter index, ORC's bloom streams, Iceberg puffin)
  * answers "might file F contain key x?" with no false negatives, so
  * a reader visits only the files whose filter fires.
  *
  * The filter is the textbook m-bit / k-hash Bloom, built explicitly
  * as its SET OF SET BIT POSITIONS: position `j` of key `x` is
  * `md5("bloom" + j + "|" + x)` (48-bit prefix) mod `mBits`, and the
  * sidecar relation is `(file_id, bit)` distinct — semantically
  * identical to the bitmap (a bitmap is exactly the characteristic
  * set of its positions) while staying relational end-to-end, which
  * (a) makes the probe a hash semi-join instead of bit twiddling and
  * (b) lets an external SQL oracle replay construction, probe, and
  * false-positive behavior bit-for-bit.
  *
  * Probe semantics: key x "might be" in file F iff ALL k of x's bit
  * positions appear in F's sidecar — counted by joining the k probe
  * rows against the distinct sidecar and requiring k matches. The
  * output compares the pruning decision to ground truth per probe:
  * `n_files` total, `n_scan` files the bloom admits, `n_true` files
  * genuinely containing the key (⊆ admitted — soundness, asserted by
  * the spec), `n_false_pos` the wasted scans.
  *
  * Scale shape: sidecar build is one explode (k rows per key) + one
  * distinct per file — linear, map-side combinable, and ~`mBits` rows
  * per file at saturation (bounded!, never key-count-sized); the
  * probe is (probes × k) rows semi-joined to the sidecar — shuffle
  * keyed on the bit id, never on data rows. At warehouse scale the
  * sidecar rides parquet footers / a `_bloom` sidecar table partition
  * and the probe side is a driver-sized key list broadcast into a
  * partition-pruning predicate; the relational shape here is the same
  * plan with the roles reversed, which is what keeps it testable.
  * File assignment simulates a range-partitioned writer via
  * `ntile(files)` over the caller's layout ordering, exactly like
  * [[ZoneMaps.statsAndPrune]] ([[Layout.ntileBy]]: range-partitioned,
  * never one reducer; in production the layout IS the writer's, and
  * stats come for free).
  */
object BloomSkip {

  private def bitPos(key: Column, j: Int, mBits: Int): Column =
    call_function("graft_md5i",
      concat_ws("|", lit(s"bloom$j"), key), lit(12)) % lit(mBits.toLong)

  /** @param df      table rows
    * @param layout  ordering that defines file assignment
    * @param files   number of equal-size files (ntile)
    * @param keyCol  lookup key column (string)
    * @param probes  one-column DataFrame of probe keys (string, named
    *                `probeCol`)
    */
  def sidecarAndProbe(df: DataFrame, layout: Seq[Column], files: Int,
                      keyCol: String, probes: DataFrame, probeCol: String,
                      mBits: Int = 256, kHashes: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(df.sparkSession)
    val assigned = Layout
      .ntileBy(df, layout, files, keep = Seq(keyCol), tileCol = "file_id")
      .select(col("file_id").cast("long").as("file_id"),
        col(keyCol).as("k"))
    val sidecar = assigned
      .select(col("file_id"), explode(array(
        (1 to kHashes).map(j => bitPos(col("k"), j, mBits)): _*)).as("bit"))
      .distinct()
    val probePos = probes
      .select(col(probeCol).as("probe_key"), explode(array(
        (1 to kHashes).map(j =>
          struct(lit(j).as("j"),
            bitPos(col(probeCol), j, mBits).as("bit"))): _*)).as("p"))
      .select(col("probe_key"), col("p.j"), col("p.bit"))
    val admitted = probePos.join(sidecar, "bit")
      .groupBy(col("probe_key"), col("file_id"))
      .agg(count(lit(1)).as("hits"))
      .where(col("hits") === kHashes)
      .select(col("probe_key"), col("file_id"))
    val truth = assigned.groupBy(col("k").as("probe_key"))
      .agg(collect_set(col("file_id")).as("true_files"))
    // Base the output on the probe list itself: a key absent from
    // every file whose bits fire nowhere must still report
    // (n_scan = 0), not vanish.
    probes.select(col(probeCol).as("probe_key")).distinct()
      .join(admitted.groupBy("probe_key")
        .agg(collect_set(col("file_id")).as("scan_files")),
        Seq("probe_key"), "left")
      .withColumn("scan_files",
        coalesce(col("scan_files"), array().cast("array<long>")))
      .join(truth, Seq("probe_key"), "left")
      .withColumn("true_files",
        coalesce(col("true_files"), array().cast("array<long>")))
      .select(col("probe_key"),
        lit(files.toLong).as("n_files"),
        size(col("scan_files")).cast("long").as("n_scan"),
        size(array_intersect(col("scan_files"), col("true_files")))
          .cast("long").as("n_true"),
        (size(col("scan_files")) -
          size(array_intersect(col("scan_files"), col("true_files"))))
          .cast("long").as("n_false_pos"))
  }
}
