package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QueryRegistry, QuerySpec}

/** The query registry is the one place a query is declared; these specs
  * pin the cross-references that a `Map` built from it cannot check.
  */
class QueryRegistrySuite extends AnyFunSuite {

  private def spec(name: String, note: Option[String] = None, twin: Option[String] = None) =
    QuerySpec(name, (_, _) => throw new UnsupportedOperationException, note = note, twin = twin)

  test("the registry is consistent and SparkEntry's maps are derived from all of it") {
    val all = QueryRegistry.all
    assert(QueryRegistry.problems(all) === Nil)
    assert(SparkEntry.queries.keySet === all.map(_.name).toSet)
    assert(SparkEntry.oracleSql.keySet === all.filter(_.oracle.isDefined).map(_.name).toSet)
    assert(all.exists(_.twin.isDefined) && all.exists(_.note.isDefined))
  }

  test("a duplicate name is reported instead of silently replacing the first spec") {
    assert(QueryRegistry.problems(Seq(spec("a"), spec("b"), spec("a"))) ===
      Seq("duplicate name a"))
  }

  test("a twin must name a registered query") {
    assert(QueryRegistry.problems(Seq(spec("a", twin = Some("a_scale")))) ===
      Seq("a: twin a_scale is not registered"))
  }

  test("a twin pair must point both ways") {
    val oneWay = Seq(spec("a", twin = Some("a_exact")), spec("a_exact"))
    assert(QueryRegistry.problems(oneWay) === Seq("a: twin a_exact does not name a back"))
    val crossed = Seq(spec("a", twin = Some("b")), spec("b", twin = Some("c")),
      spec("c", twin = Some("b")))
    assert(QueryRegistry.problems(crossed) === Seq("a: twin b does not name a back"))
    assert(QueryRegistry.problems(Seq(spec("a", twin = Some("a")))) === Seq("a: twin of itself"))
  }

  test("a note must not cite a scale path the registry does not have") {
    val specs = Seq(spec("a", note = Some("ORACLE SHAPE: global sort. Scale path: a_gone (hash agg).")))
    assert(QueryRegistry.problems(specs) === Seq("a: note cites unregistered query a_gone"))
    assert(QueryRegistry.problems(specs :+ spec("a_gone")) === Nil)
  }
}
