package graft.dedup

import scala.reflect.runtime.{universe => ru}

import org.scalatest.funsuite.AnyFunSuite

/** Each store gate has one form: the planner-chosen store join. A
  * membership prefilter is not a second public entry point or an
  * optional gate parameter — neither may come back on the objects that
  * hold the gates.
  */
class GateSurfaceSpec extends AnyFunSuite {

  private val gateObjects = Seq("graft.dedup.Dedup", "graft.dedup.SpanDedup",
    "graft.ops.Segments", "graft.streaming.StreamingOps")

  /** Public methods of a Scala object, read from its Scala signature
    * (default-argument getters excluded).
    */
  private def publicMethods(obj: String): Seq[ru.MethodSymbol] = {
    val mirror = ru.runtimeMirror(getClass.getClassLoader)
    mirror.staticModule(obj).moduleClass.info.decls.toSeq
      .filter(d => d.isMethod && d.isPublic && !d.isConstructor &&
        !d.name.encodedName.toString.contains("$default$"))
      .map(_.asMethod)
  }

  private def paramNames(m: ru.MethodSymbol): Seq[String] =
    m.paramLists.flatten.map(_.name.decodedName.toString)

  test("the scan sees the gates and their parameters") {
    val dedup = publicMethods("graft.dedup.Dedup")
      .map(m => m.name.decodedName.toString -> paramNames(m)).toMap
    assert(dedup("minhashGate").contains("maxBucket"))
    assert(dedup("exactGate") == Seq("batch", "idCol", "textCol", "storeTable"))
    assert(publicMethods("graft.streaming.StreamingOps")
      .exists(_.name.decodedName.toString == "noveltyGateEachBatch"))
    assert(publicMethods("graft.ops.Segments")
      .exists(_.name.decodedName.toString == "segmentGateRows"))
    assert(publicMethods("graft.dedup.SpanDedup")
      .exists(_.name.decodedName.toString == "statsIncremental"))
  }

  test("no gate object has a public Bloom method or a Bloom parameter") {
    val offenders = gateObjects.flatMap { obj =>
      publicMethods(obj).flatMap { m =>
        val name = m.name.decodedName.toString
        val byName =
          if (name.toLowerCase.contains("bloom")) Seq(s"$obj.$name") else Nil
        val byParam = paramNames(m).filter(_.toLowerCase.contains("bloom"))
          .map(p => s"$obj.$name($p)")
        byName ++ byParam
      }
    }
    assert(offenders.isEmpty,
      s"Bloom twins or parameters on the gate objects: ${offenders.mkString(", ")}")
  }
}
