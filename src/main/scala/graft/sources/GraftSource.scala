package graft.sources

import org.apache.spark.sql.SQLContext
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider}

import graft.plans.ManifestFileIndex

/** `spark.read.format("graft").load(segmentDir)` — the named-format entry
  * the reference exposes as `format("indexr")` (SURVEY.md §3.2,
  * indexr-spark IndexRFileFormat registration). Uses the same builder as
  * `ManifestFileIndex.read` ([[ManifestFileIndex.relation]]): opening reads
  * the manifest once and lists the directory once, with no Spark job;
  * per-file min/max + bloom + trigram pruning happens inside Catalyst file
  * listing, then the native parquet/orc reader takes over (column pruning,
  * row-group stats, row-group blooms). Registered via META-INF/services, so
  * pure-SQL sessions reach it with nothing but the format name — e.g.
  * `CREATE TABLE t USING graft LOCATION '/data/t'`. */
class GraftSource extends RelationProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val dir = parameters.getOrElse("path",
      throw new IllegalArgumentException("format(\"graft\") needs a path"))
    ManifestFileIndex.relation(ctx.sparkSession, dir)
  }
}
