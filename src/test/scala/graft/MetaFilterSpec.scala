package graft

import graft.filters.MetaFilter
import MetaFilter._

class MetaFilterSpec extends SparkSpecBase {

  private lazy val df = {
    import spark.implicits._
    Seq((1L, "red", 10.0), (2L, "blue", 20.0), (3L, "red", 30.0), (4L, "green", 40.0))
      .toDF("id", "color", "price")
  }

  private def ids(f: MetaFilter): Seq[Long] = {
    import spark.implicits._
    df.filter(f.toColumn(df)).select("id").as[Long].collect().sorted.toSeq
  }

  test("comparison operators") {
    assert(ids(Eq("color", "red")) == Seq(1L, 3L))
    assert(ids(Ne("color", "red")) == Seq(2L, 4L))
    assert(ids(Gt("price", 20.0)) == Seq(3L, 4L))
    assert(ids(Gte("price", 20.0)) == Seq(2L, 3L, 4L))
    assert(ids(Lt("price", 20.0)) == Seq(1L))
    assert(ids(Lte("price", 20.0)) == Seq(1L, 2L))
    assert(ids(In("id", Seq(1L, 4L))) == Seq(1L, 4L))
    assert(ids(Nin("id", Seq(1L, 4L))) == Seq(2L, 3L))
  }

  test("boolean combinators") {
    assert(ids(And(Seq(Eq("color", "red"), Gt("price", 15.0)))) == Seq(3L))
    assert(ids(Or(Seq(Eq("color", "green"), Lt("price", 15.0)))) == Seq(1L, 4L))
  }

  test("JSON parse of the reference's Mongo syntax") {
    // reference: item_selector.py:54-129 operator subset
    val f = MetaFilter.parse(
      """{"$or":[{"color":"green"},
        |        {"$and":[{"price":{"$gte":10}},{"price":{"$lt":25}}]}]}""".stripMargin)
    assert(ids(f) == Seq(1L, 2L, 4L))
  }

  test("bare equality and implicit AND across fields") {
    val f = MetaFilter.parse("""{"color":"red","price":{"$gt":15}}""")
    assert(ids(f) == Seq(3L))
  }

  test("filters compile to pushable predicates (no UDF in the plan)") {
    val plan = df.filter(MetaFilter.parse("""{"price":{"$gte":20}}""").toColumn(df))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"))
  }
}
