package graft

import java.nio.file.Files
import graft.sinks.VersionedTable
import org.apache.spark.sql.functions._

/** Metadata tables (Iceberg's t.history/t.files shape): commit,
  * file, partition, and ref metadata readable as DataFrames through
  * `option("metadata", …)` and the catalog's `t$kind` names —
  * driver-assembled from manifests/sidecars, never fabricated.
  */
class MetadataTablesSpec extends SparkSpec {
  import spark.implicits._

  test("history/files/partitions/refs over a partitioned table " +
    "agree with the manifests") {
    val root = Files.createTempDirectory("meta").resolve("t").toString
    val df = (1L to 300L)
      .map(i => (i, s"d${i % 3}", i * 2)).toDF("id", "part", "v")
    VersionedTable.upsert(spark, root, df, Seq("id"),
      Seq("part"))
    VersionedTable.upsert(spark, root,
      Seq((301L, "d0", 999L)).toDF("id", "part", "v"), Seq("id"),
      Seq("part"))
    VersionedTable.setRef(root, "stable", 1L)

    def meta(kind: String) = spark.read.format("graft")
      .option("metadata", kind).load(root)

    val hist = meta("history")
      .select("version", "form", "is_live")
      .as[(Long, String, Boolean)].collect().sortBy(_._1).toSeq
    assert(hist === Seq((1L, "partitioned", false),
      (2L, "partitioned", true)))

    val m = VersionedTable.readPartitionedManifest(root).get
    val files = meta("files")
    assert(files.agg(sum("row_count")).head.getLong(0) === 301L)
    assert(files.select("partition").distinct().count() === 3)
    assert(files.agg(min("bytes")).head.getLong(0) > 0)

    val parts = meta("partitions")
      .select("partition", "file_count", "row_count")
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(parts.map(_._1) === Seq("part=d0", "part=d1", "part=d2"))
    assert(parts.map(_._3).sum === 301L)
    assert(parts.find(_._1 == "part=d0").get._3 === 101L)
    assert(meta("partitions").select("dir").distinct()
      .as[String].collect().toSet.subsetOf(m.partitions.values.toSet))

    val refs = meta("refs").as[(String, Long)].collect().toSeq
    assert(refs === Seq(("stable", 1L)))

    // metadata tables are read-only
    val e = intercept[Exception] {
      Seq((1L, "x")).toDF("name", "v").write.format("graft")
        .mode("append").option("metadata", "refs").save(root)
    }
    assert(e.getMessage.contains("read-only"), e.getMessage)
  }

  test("flat-table files/partitions use a synthetic root row; " +
    "catalog $-names resolve the same frames") {
    val wh = Files.createTempDirectory("meta_wh").toString
    spark.conf.set("spark.sql.catalog.mcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE mcat.m")
    spark.sql("CREATE TABLE mcat.m.f (id BIGINT, v BIGINT) " +
      "USING graft TBLPROPERTIES ('keys' = 'id')")
    spark.sql("INSERT INTO mcat.m.f SELECT id, id * 2 FROM range(50)")
    val files = spark.sql("SELECT * FROM mcat.m.`f$files`")
    assert(files.agg(sum("row_count")).head.getLong(0) === 50L)
    assert(files.select("partition").head.isNullAt(0))
    val parts = spark.sql("SELECT * FROM mcat.m.`f$partitions`")
      .select("file_count", "row_count").as[(Long, Long)].head()
    assert(parts._2 === 50L)
    val hist = spark.sql(
      "SELECT version, is_live FROM mcat.m.`f$history`")
      .as[(Long, Boolean)].collect().toSeq
    assert(hist === Seq((1L, true)))
    // a metadata COUNT(*) must NOT be answered from the DATA table's
    // sidecar rows (the pushdown declines on metadata reads)
    assert(spark.sql("SELECT count(*) FROM mcat.m.`f$history`")
      .head.getLong(0) === 1L)
  }
}
