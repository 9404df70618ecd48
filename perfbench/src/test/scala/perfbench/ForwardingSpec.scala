package perfbench

import java.lang.reflect.{Method, Proxy}

import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe._

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sync.{SyncSource, SyncTarget}

/**
 * The timing decorators must hand every overridable member of
 * SyncSource and SyncTarget to the real object. A member left to its
 * trait default would run the default instead of the engine's own
 * implementation, changing what is measured.
 */
class ForwardingSpec extends AnyFunSuite {

  private def placeholder(t: Class[_]): AnyRef =
    if (t == classOf[Boolean]) java.lang.Boolean.FALSE
    else if (t == classOf[String]) "1"
    else if (t == classOf[StructType]) new StructType()
    else if (t == classOf[Seq[_]]) Nil
    else if (t == classOf[Map[_, _]]) Map.empty
    else if (t == classOf[Set[_]]) Set.empty
    else if (t == classOf[Option[_]]) None
    else if (t == classOf[Tuple2[_, _]]) (Nil, Nil)
    else null

  /** A base object whose every interface method records its own name. */
  private def recorder[T](cls: Class[T], calls: ArrayBuffer[String]): T =
    Proxy.newProxyInstance(cls.getClassLoader, Array[Class[_]](cls), (_: AnyRef, m: Method, _: Array[AnyRef]) => {
      calls += m.getName
      placeholder(m.getReturnType)
    }).asInstanceOf[T]

  /** Public members a wrapper can override: everything but final members
    * and the compiler's default-argument getters. */
  private def overridable(tpe: Type): Seq[String] =
    tpe.decls.collect {
      case m: MethodSymbol if m.isPublic && !m.isFinal && !m.isConstructor &&
          !m.name.decodedName.toString.contains("$default$") =>
        m.name.decodedName.toString
    }.toSeq.distinct

  private def checkForwards(
      members: Seq[String], decorator: AnyRef, calls: ArrayBuffer[String]): Unit = {
    assert(members.nonEmpty)
    val missing = members.filterNot { name =>
      val m = decorator.getClass.getMethods.find(x => x.getName == name && !x.isBridge)
        .getOrElse(fail(s"${decorator.getClass.getSimpleName} has no member $name"))
      calls.clear()
      m.invoke(decorator, m.getParameterTypes.map(placeholder): _*)
      calls.contains(name)
    }
    assert(missing.isEmpty, s"members not forwarded to the wrapped object: $missing")
  }

  private val tracer = new Tracer(null, enabled = false)

  test("TracedSource forwards every SyncSource member, defaulted ones included") {
    val calls = ArrayBuffer.empty[String]
    val decorator = new TracedSource(recorder(classOf[SyncSource], calls), tracer)
    val members = overridable(typeOf[SyncSource])
    assert(Seq("schemaAtVersion", "physicalNames", "laterOf", "isCompleted",
      "inflightVersions", "statisticsProps").forall(members.contains))
    checkForwards(members, decorator, calls)
  }

  test("TracedTarget forwards every SyncTarget member, defaulted ones included") {
    val calls = ArrayBuffer.empty[String]
    val decorator = new TracedTarget(recorder(classOf[SyncTarget], calls), tracer)
    val members = overridable(typeOf[SyncTarget])
    assert(Seq("beginBatch", "endBatch", "commit").forall(members.contains))
    checkForwards(members, decorator, calls)
  }

  test("the check catches a wrapper that leaves a default in place") {
    val calls = ArrayBuffer.empty[String]
    val base = recorder(classOf[SyncSource], calls)
    // forwards the abstract members only, as SyncEngine.sourceFor's
    // partition-spec override does
    val partial = new SyncSource {
      def format = base.format
      def sourceId = base.sourceId
      def dataRoot = base.dataRoot
      def schema = base.schema
      def partitionColumns = base.partitionColumns
      def currentVersion = base.currentVersion
      def versionExists(v: String) = base.versionExists(v)
      def versionsAfter(v: String) = base.versionsAfter(v)
      def snapshotFiles() = base.snapshotFiles()
      def changes(v: String) = base.changes(v)
    }
    assertThrows[org.scalatest.exceptions.TestFailedException](
      checkForwards(overridable(typeOf[SyncSource]), partial, calls))
  }
}
