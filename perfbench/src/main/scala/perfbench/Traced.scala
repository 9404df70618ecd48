package perfbench

import org.apache.spark.sql.types.StructType

import graft.model.{InternalDataFile, SyncCas}
import graft.sync.{SyncSource, SyncTarget}

/**
 * A [[SyncSource]] that times every call into the real one as the
 * `<format>.source` layer. Every member is forwarded, defaulted ones
 * included: a wrapper that fell back to a trait default would change
 * what the engine does instead of measuring it. ForwardingSpec checks
 * this by reflection.
 */
final class TracedSource(base: SyncSource, tr: Tracer) extends SyncSource {
  private val layer = s"${base.format}.source"
  private def t[A](call: String)(f: => A): A = tr.span(layer, call)(f)

  def format: String = base.format
  def sourceId: String = base.sourceId
  def dataRoot: String = t("dataRoot")(base.dataRoot)
  def schema: StructType = t("schema")(base.schema)
  def partitionColumns: Seq[String] = t("partitionColumns")(base.partitionColumns)
  def currentVersion: String = t("currentVersion")(base.currentVersion)
  def versionExists(v: String): Boolean = t("versionExists")(base.versionExists(v))
  override def isCompleted(v: String): Boolean = t("isCompleted")(base.isCompleted(v))
  def versionsAfter(v: String): Seq[String] = t("versionsAfter")(base.versionsAfter(v))
  override def schemaAtVersion(v: String): StructType = t("schemaAtVersion")(base.schemaAtVersion(v))
  def snapshotFiles(): Seq[InternalDataFile] = t("snapshotFiles")(base.snapshotFiles())
  def changes(v: String): (Seq[InternalDataFile], Seq[String]) = t("changes")(base.changes(v))
  override def inflightVersions: Seq[String] = t("inflightVersions")(base.inflightVersions)
  override def recordKeyFields: Seq[String] = t("recordKeyFields")(base.recordKeyFields)
  override def physicalNames: Map[String, String] = t("physicalNames")(base.physicalNames)
  override def laterOf(a: String, b: String): String = t("laterOf")(base.laterOf(a, b))
  override def statisticsProps(version: String): Map[String, String] =
    t("statisticsProps")(base.statisticsProps(version))
}

/** A [[SyncTarget]] that times sync-state reads as `<format>.state` and
  * commits (batch brackets included) as `<format>.commit`. */
final class TracedTarget(base: SyncTarget, tr: Tracer) extends SyncTarget {
  private val state = s"${base.format}.state"
  private val commitLayer = s"${base.format}.commit"

  def format: String = base.format
  def targetPath: String = base.targetPath
  def syncState(): Map[String, String] = tr.span(state, "syncState")(base.syncState())
  def livePaths(): Set[String] = tr.span(state, "livePaths")(base.livePaths())
  override def beginBatch(): Unit = tr.span(commitLayer, "beginBatch")(base.beginBatch())
  override def endBatch(): Unit = tr.span(commitLayer, "endBatch")(base.endBatch())
  def commit(
      schema: StructType,
      partitionColumns: Seq[String],
      sourceDataRoot: String,
      adds: Seq[InternalDataFile],
      removePaths: Seq[String],
      watermark: Map[String, String],
      physicalNames: Map[String, String] = Map.empty,
      cas: Option[SyncCas] = None): Unit =
    tr.span(commitLayer, "commit")(base.commit(schema, partitionColumns, sourceDataRoot,
      adds, removePaths, watermark, physicalNames, cas))
}
