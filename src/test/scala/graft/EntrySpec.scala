package graft

/** Driver-contract invariants: the flagship entry returns rows, every
  * oracle key has a matching query, and query names are stable
  * identifiers (the driver uses them as output directory names). */
class EntrySpec extends SparkSpec {

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every query has an oracle — rows-only grading must not silently creep back") {
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty,
      s"query without oracle (driver would fall back to a weak rows-only check): $unoracled")
  }

  test("query names are filesystem/JSON-safe") {
    assert(SparkEntry.queries.keys.forall(_.matches("[a-z0-9_]+")))
  }

  test("all graded queries are resolvable (analysis succeeds) on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sf("sf0.001")).schema
      catch { case e: Throwable =>
        fail(s"query $name failed analysis: ${e.getMessage}")
      }
    }
    // stream hygiene: every stream_* query ran to completion inside its
    // builder and left neither a running query nor its memory-sink view
    assert(spark.streams.active.isEmpty,
      s"streams left running: ${spark.streams.active.map(_.name).mkString(", ")}")
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(graft.queries.ParityQueries.DrainViewPrefix))
    assert(views.isEmpty, s"memory-sink views left in the catalog: ${views.mkString(", ")}")
  }

  test("q_table_fingerprint is invariant to partitioning and row order") {
    import org.apache.spark.sql.functions._
    val dir = sf("sf0.001")
    val base = SparkEntry.queries("q_table_fingerprint")(spark, dir)
      .collect().head
    // same rows, adversarial layout: single partition, reversed sort
    val shuffled = graft.sources.Tables.customer(spark, dir)
      .orderBy(col("c_name").desc).coalesce(1)
    val h = shuffled.select(expr(
      """cast(conv(substr(md5(concat_ws('|',
        |  cast(c_custkey as string), c_name,
        |  cast(c_nationkey as string), c_mktsegment)), 1, 12), 16, 10)
        |  as decimal(38,0))""".stripMargin).as("h"))
      .agg(sum(col("h")).as("s"))
      .select(expr("cast(s % 9223372036854775807 as bigint)"))
      .collect().head.getLong(0)
    assert(base.getLong(1) === h,
      "fingerprint must not depend on partitioning or row order")
    // and a single changed row flips it
    val tampered = graft.sources.Tables.customer(spark, dir)
      .withColumn("c_name",
        when(col("c_custkey") === 1L, lit("tampered")).otherwise(col("c_name")))
    val ht = tampered.select(expr(
      """cast(conv(substr(md5(concat_ws('|',
        |  cast(c_custkey as string), c_name,
        |  cast(c_nationkey as string), c_mktsegment)), 1, 12), 16, 10)
        |  as decimal(38,0))""".stripMargin).as("h"))
      .agg(sum(col("h")).as("s"))
      .select(expr("cast(s % 9223372036854775807 as bigint)"))
      .collect().head.getLong(0)
    assert(base.getLong(1) !== ht, "a changed row must flip the fingerprint")
  }
}
