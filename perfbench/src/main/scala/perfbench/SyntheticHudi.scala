package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.hudi.{HudiCommitMetadata, HudiInstant, HudiTable, HudiWriteStat}

/**
 * A Hudi copy-on-write source written at the metadata level, following
 * the reference LoadTest recipe: every commit carries write stats for
 * files that do not exist. A sync that touches a data file (footer
 * read, stat, listing) therefore fails, which the benchmark counts.
 */
object SyntheticHudi {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType),
    StructField("level", StringType)))

  private val avroSchema =
    graft.schema.AvroSchemaConverters.toAvro(schema).toString

  /** An empty COW table partitioned by `level` (hive-style paths). */
  def create(spark: SparkSession, path: String): HudiTable = {
    val t = HudiTable.forPath(spark, path)
    t.timeline.writeProperties(Map(
      "hoodie.table.name" -> new Path(path).getName,
      "hoodie.table.type" -> "COPY_ON_WRITE",
      "hoodie.table.version" -> "6",
      "hoodie.timeline.layout.version" -> "1",
      "hoodie.table.base.file.format" -> "PARQUET",
      "hoodie.datasource.write.hive_style_partitioning" -> "true",
      "hoodie.table.keygenerator.class" -> "org.apache.hudi.keygen.SimpleKeyGenerator",
      "hoodie.table.partition.fields" -> "level"))
    t
  }

  def partitionPath(p: Int): String = s"level=p$p"

  /** One file group: partition path, file id, path relative to the table. */
  final case class Group(partitionPath: String, fileId: String, relPath: String)

  /**
   * One commit writing one new file group to each of `partitions`. With
   * `replace`, the commit is a `replacecommit` that also replaces those
   * groups, so removes flow downstream. Returns the groups written.
   */
  def commit(
      t: HudiTable,
      partitions: Seq[Int],
      tag: String,
      rng: java.util.Random,
      replace: Seq[Group] = Seq.empty): Seq[Group] = {
    val instant = t.timeline.nextInstantTime()
    val stats = partitions.map { p =>
      val pp = partitionPath(p)
      val id = s"$tag-$p-${java.lang.Long.toHexString(rng.nextLong())}"
      pp -> Seq(HudiWriteStat(
        fileId = id,
        path = s"$pp/${id}_0-0-0_$instant.parquet",
        prevCommit = "null",
        numWrites = 1L + rng.nextInt(1000),
        fileSizeInBytes = 1024L + rng.nextInt(1 << 20)))
    }.toMap
    val replaced = replace.groupMap(_.partitionPath)(_.fileId)
    val meta = HudiCommitMetadata(stats, replaced, Map("schema" -> avroSchema),
      if (replace.isEmpty) "BULK_INSERT" else "INSERT_OVERWRITE")
    val action = if (replace.isEmpty) "commit" else "replacecommit"
    require(t.timeline.commit(HudiInstant(instant, action), meta),
      s"lost the commit race for synthetic instant $instant")
    stats.toSeq.flatMap { case (pp, ws) => ws.map(w => Group(pp, w.fileId, w.path)) }
  }
}
