package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the complete operator surface (one entry per implemented
  * operator from SURVEY.md §2 plus the LLM-pipeline extensions); for each
  * key, `oracleSql` carries the equivalent DuckDB SQL the driver runs on
  * the same parquet tables. Queries without an oracle entry get a
  * rows-only check (non-SQL-expressible ops: HNSW graph internals, LSH).
  */
object SparkEntry {

  /** Spark session settings every entry point needs:
    *  - nanosAsLong: events.ts is parquet TIMESTAMP(NANOS), unsupported by
    *    Spark's reader natively; we read raw nanos and convert ourselves.
    *  - AQE on: runtime coalescing + skew-join handling at scale.
    */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // Kryo for broadcast + RDD-record serialization: SQL/Dataset paths
    // run Tungsten regardless, so this targets the HNSW build's
    // per-batch snapshot broadcasts, phase-1 RDD records, and the
    // model/query broadcasts of the serving paths. The shard/model
    // vector payloads are graft's own primitive maps (LongVecMap /
    // LongLongMap — pure data fields, Kryo-FieldSerializer-safe by
    // construction; scala's mutable.LongMap deserialized CORRUPT under
    // this round-trip in cached shard state). Measured on the n100k
    // grid build: snapshot+broadcast slice 5.1 -> 4.4 s (the remainder
    // is CSR construction + lz4 broadcast compression, kept on because
    // a real cluster wants compressed torrent blocks).
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer"
  )
  def applyConfigs(b: SparkSession.Builder): SparkSession.Builder =
    sessionConfigs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The mains' local session: `local[SPARK_GRAFT_CPUS]` (else
    * `defaultCpus`) with as many shuffle partitions, no UI, the
    * [[sessionConfigs]] and WARN logging. */
  def localSession(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = applyConfigs(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * exact cosine kNN over the embeddings table (the reference's core
    * capability, LinearDb brute-force path). */
  def entry(spark: SparkSession): DataFrame =
    queries("v_knn_cosine")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.defs ++
      graft.queries.Relational2.defs ++
      graft.queries.Events.defs ++
      graft.queries.Text.defs ++
      graft.queries.Vector.defs ++
      graft.queries.Hnsw.defs ++
      graft.queries.DedupQueries.defs ++
      graft.queries.Curation.defs ++
      graft.queries.LayoutQueries.defs ++
      graft.operators.Multimodal.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracles ++
      graft.queries.Relational2.oracles ++
      graft.queries.Events.oracles ++
      graft.queries.Text.oracles ++
      graft.queries.Vector.oracles ++
      graft.queries.Hnsw.oracles ++
      graft.queries.DedupQueries.oracles ++
      graft.queries.Curation.oracles ++
      graft.queries.LayoutQueries.oracles ++
      graft.operators.Multimodal.oracles
}
