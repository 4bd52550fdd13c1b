package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.operators.{AnnOps, GeoOps, MixOps, TextOps}
import graft.sources.{FlatfileSink, Io}

/** The benchmark's workloads. Each is a closed loop: one client runs its
  * members one after another, in a seeded shuffle per pass. */
object Workloads {

  /** One step of a pass: `build` makes the member's DataFrame through
    * the public registry, and the runner times the calls it makes on it. */
  sealed trait Member { def name: String; def query: String }

  /** A registry query whose result is digested on the executors. */
  final case class Query(query: String) extends Member { def name: String = query }

  /** A published product: the query's result written through a
    * `sources` sink, then read back through `Io` and digested. */
  final case class Product(name: String, query: String,
                           write: (DataFrame, String) => Unit,
                           read: (SparkSession, DataFrame, String) => DataFrame) extends Member

  final case class Workload(name: String, artifacts: Seq[String], members: Seq[Member])

  /** Declared artifact builds, by operator family, in build order. */
  val artifactBuilds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "TextOps" -> TextOps.warmCaches _,
    "AnnOps" -> AnnOps.warmCaches _,
    "GeoOps" -> GeoOps.warmCaches _,
    "MixOps" -> MixOps.warmCaches _)

  private def queries(names: String*): Seq[Member] = names.map(Query)

  private def singleCsv(name: String, query: String): Product =
    Product(name, query, (df, dir) => FlatfileSink.writeSingleCsv(df, dir),
      (s, df, dir) => Io.readCsv(s, dir, df.schema))

  private def partitionedParquet(name: String, query: String,
                                 partition: String, sort: String): Product =
    Product(name, query,
      (df, dir) => Io.writePartitionedParquet(df, dir, Seq(partition), Seq(sort)),
      (s, df, dir) => s.read.schema(df.schema).parquet(dir).select(df.columns.map(col): _*))

  val all: Seq[Workload] = Seq(
    Workload("gm_query_publish", Seq("GeoOps"), Seq(
      Query("quality_all"), Query("tect_domain"), Query("aftershock_clusters"),
      Query("im_rotd"),
      partitionedParquet("eq_source_table.parquet", "eq_source_table", "domain", "evid"),
      singleCsv("site_table_dedup.csv", "site_table_dedup"))),
    Workload("event_stream", Nil, queries(
      "streaming_db_upsert", "streaming_sessionize", "sessionize", "spend_gini")))

  def byName(name: String): Option[Workload] = all.find(_.name == name)

  def build(m: Member, s: SparkSession, dir: String): DataFrame =
    SparkEntry.queries(m.query)(s, dir)
}
