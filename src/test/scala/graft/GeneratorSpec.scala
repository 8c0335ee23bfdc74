package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.functions.CsvCodec
import graft.queries.ParityQueries.withConf
import graft.sources.RecordGenerator

/** Generator domain conformance against the reference spec
  * (`/root/reference/internal/data/generator.go:9-13,22-58`). */
class GeneratorSpec extends SparkSpec {

  private lazy val rows = RecordGenerator.records(spark, 500, seed = 42).collect()

  test("id is uniform over [0, 2^31) — non-negative int32") {
    assert(rows.forall(r => r.getAs[Int]("id") >= 0))
  }

  test("name: 10-15 chars, [A-Za-z] only") {
    assert(rows.forall { r =>
      val n = r.getAs[String]("name")
      n.length >= 10 && n.length <= 15 && n.forall(c => c.isLetter && c <= 'z')
    })
  }

  test("address: 15-20 chars, [A-Za-z0-9 ] only — never a comma") {
    assert(rows.forall { r =>
      val a = r.getAs[String]("address")
      a.length >= 15 && a.length <= 20 &&
        a.forall(c => c.isLetterOrDigit || c == ' ')
    })
  }

  test("continent drawn from the 6-value enum") {
    val enums = RecordGenerator.Continents.toSet
    assert(rows.forall(r => enums.contains(r.getAs[String]("continent"))))
    // and all 6 values appear in 500 draws
    assert(rows.map(_.getAs[String]("continent")).toSet === enums)
  }

  test("generation is deterministic: same seed => identical records") {
    val again = RecordGenerator.records(spark, 500, seed = 42).collect()
    assert(rows.map(_.toSeq).sameElements(again.map(_.toSeq)))
    val other = RecordGenerator.records(spark, 500, seed = 43).collect()
    assert(!rows.map(_.toSeq).sameElements(other.map(_.toSeq)))
  }

  test("csvLines: 4 comma-separated fields per line") {
    val lines = RecordGenerator.csvLines(spark, 100).collect()
    assert(lines.forall(_.getAs[String]("line").split(",", -1).length === 4))
  }

  test("recordsFast (volume generator) honors the same domains") {
    val rows = RecordGenerator.recordsFast(spark, 500, seed = 42).collect()
    val enums = RecordGenerator.Continents.toSet
    assert(rows.forall { r =>
      val n = r.getAs[String]("name")
      val a = r.getAs[String]("address")
      r.getAs[Int]("id") >= 0 &&
        n.length >= 10 && n.length <= 15 && n.forall(_.isLetter) &&
        a.length >= 15 && a.length <= 20 &&
        a.forall(c => c.isLetterOrDigit || c == ' ') &&
        enums.contains(r.getAs[String]("continent"))
    })
    // deterministic
    val again = RecordGenerator.recordsFast(spark, 500, seed = 42).collect()
    assert(rows.map(_.toSeq).sameElements(again.map(_.toSeq)))
  }

  /** `recordsFast` as SQL, before `name` and `address` became one
    * `HashChars` expression each: one `substr(chars, pmod(h div m^k, m)
    * + 1, 1)` term per character. Kept only as the bit-identity
    * reference. */
  private def sqlRecordsFast(n: Long, seed: Long, numPartitions: Int): DataFrame = {
    def h(tag: String): String = s"xxhash64($seed, '$tag', row_id)"
    def fastString(tag: String, chars: String, minLen: Int, spread: Int): String = {
      val m = chars.length
      val charExprs = (0 until minLen + spread - 1).map { i =>
        val hc = h(s"$tag${i / 10 + 1}")
        val pow = BigInt(m).pow(i % 10).toLong
        s"substr('$chars', cast(pmod($hc div $pow, $m) + 1 as int), 1)"
      }
      s"""substr(concat(${charExprs.mkString(", ")}), 1,
         |  cast($minLen + pmod(${h(s"${tag}len")}, $spread) as int))""".stripMargin
    }
    val continentList = RecordGenerator.Continents.map(c => s"'$c'").mkString(", ")
    spark.range(0, n, 1, numPartitions)
      .withColumnRenamed("id", "row_id")
      .select(
        col("row_id"),
        expr(s"cast(pmod(${h("id")}, 2147483648) as int)").as("id"),
        expr(fastString("nm", RecordGenerator.NameChars, 10, 6)).as("name"),
        expr(fastString("ad", RecordGenerator.AddressChars, 15, 6)).as("address"),
        expr(s"element_at(array($continentList), cast(pmod(${h("ct")}, 6) as int) + 1)")
          .as("continent"))
  }

  test("recordsFast is bit-identical to its SQL formula, compiled and interpreted") {
    def check(compiled: Boolean): Unit =
      // 5,000,000,000 is outside the Int range: its SQL literal is a BIGINT
      for (seed <- Seq(1L, 42L, -3L, 5000000000L); parts <- Seq(1, 7)) {
        val got = RecordGenerator.recordsFast(spark, 3000, seed, parts)
        assert(got.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]) === compiled)
        assert(got.collect().sameElements(sqlRecordsFast(3000, seed, parts).collect()),
          s"seed=$seed numPartitions=$parts compiled=$compiled")
      }
    check(compiled = true)
    // HashChars.nullSafeEval, not its generated code
    withConf(spark, "spark.sql.codegen.wholeStage", "false") {
      withConf(spark, "spark.sql.codegen.factoryMode", "NO_CODEGEN") {
        check(compiled = false)
      }
    }
  }

  test("the topic producer's generated methods fit HotSpot's JIT size limit") {
    // HotSpot never compiles a method over HugeMethodLimit (8000 bytes of
    // bytecode): every row through it runs in the interpreter.
    val topic = RecordGenerator.recordsFast(spark, 1000, seed = 1, numPartitions = 4)
      .select(CsvCodec.encode(col("id"), col("name"), col("address"), col("continent")).as("line"))
    val stages = topic.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    assert(stages.nonEmpty)
    val sizes = stages.map(w => CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize)
    assert(sizes.max < 8000, s"largest generated method: ${sizes.max} bytes")
  }

  test("approx distinct stays within 5% of exact on the events fixture") {
    val got = graft.sources.Tables.events(spark, sf("sf0.01"))
      .agg(approx_count_distinct(col("user_id")).as("a"),
        countDistinct(col("user_id")).as("e"))
      .collect().head
    val (a, e) = (got.getAs[Long]("a").toDouble, got.getAs[Long]("e").toDouble)
    assert(math.abs(a - e) / e < 0.05, s"approx=$a exact=$e")
  }
}
