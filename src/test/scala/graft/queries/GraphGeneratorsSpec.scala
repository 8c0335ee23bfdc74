package graft.queries

import graft.SparkSpec
import graft.queries.TrainingDataQueries.{linkGraph, plantedCore, ringGraph}

/** The synthetic graphs the graph queries and their oracles are built
  * on, pinned edge for edge. */
class GraphGeneratorsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int) = (0L until n.toLong).toDF("doc_id")

  private def edges(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("src", "dst").as[(Long, Long)].collect().toSeq.sorted

  private def link(n: Long): Seq[(Long, Long)] =
    for (d <- 0L until n; k <- 1L to 3L) yield (d, (7 * d + 13 * k) % n)

  test("linkGraph: each doc links to (7d + 13k) mod n, k = 1..3") {
    val got = edges(linkGraph(docs(10)))
    assert(got.size === 30)
    assert(got === link(10).sorted)
    // d = 4: 41, 54, 67 mod 10
    assert(got.filter(_._1 == 4L) === Seq(4L -> 1L, 4L -> 4L, 4L -> 7L))
  }

  test("plantedCore: linkGraph plus (d, (d + j) mod 40), j = 1..5, for d < 40 only") {
    val planted = for (d <- 0L until 40L; j <- 1L to 5L) yield (d, (d + j) % 40)
    val got = edges(plantedCore(docs(50)))
    assert(got.size === 150 + 200)
    assert(got === (link(50) ++ planted).sorted)
    // doc 38's ring wraps to the block start
    assert(planted.filter(_._1 == 38L).map(_._2) === Seq(39L, 0L, 1L, 2L, 3L))
  }

  test("ringGraph: each doc links to the next two in its 40-doc block's ring") {
    val ring = for (d <- 0L until 80L; k <- 1L to 2L)
      yield (d, d / 40 * 40 + (d % 40 + k) % 40)
    val got = edges(ringGraph(docs(80)))
    assert(got === ring.sorted)
    // the rings close inside their blocks
    assert(got.filter(_._1 == 39L) === Seq(39L -> 0L, 39L -> 1L))
    assert(got.filter(_._1 == 79L) === Seq(79L -> 40L, 79L -> 41L))
  }
}
