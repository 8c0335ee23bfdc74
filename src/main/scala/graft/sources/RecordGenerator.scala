package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CsvCodec
import graft.plans.HashChars

/** Deterministic synthetic record source — the reference's producer
  * (`internal/data/generator.go:22-58`, `cmd/producer/main.go:20-67`)
  * re-expressed as `spark.range` + column expressions.
  *
  * Domains match the reference spec (`README.md:20-39`):
  *  - `id`: uniform [0, 2^31)
  *  - `name`: 10–15 chars of [A-Za-z]
  *  - `address`: 15–20 chars of [A-Za-z0-9 ] (never commas)
  *  - `continent`: 6-value enum
  *
  * Where the reference uses `math/rand` goroutines (CPU×3 workers over a
  * bounded channel), this uses the natural partition parallelism of
  * `spark.range(n, parts)` — each row's values are a pure function of
  * (seed, row index), so generation is deterministic, reproducible on any
  * cluster topology, and embarrassingly parallel at any scale. Hashing is
  * md5-derived so the DuckDB oracle can replay the exact same records.
  */
object RecordGenerator {

  val NameChars = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"          // 52
  val AddressChars = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 " // 63
  val Continents = Seq("North America", "Asia", "South America",
    "Europe", "Africa", "Australia")

  /** 48-bit deterministic hash of (seed, tag, row) — or (… , position)
    * when `posExpr` is non-empty — as a SQL expression string. */
  private def h48(seed: Long, tag: String, posExpr: String = ""): String = {
    val pos = if (posExpr.isEmpty) "" else s", ':', $posExpr"
    s"cast(conv(substr(md5(concat('$seed:$tag:', row_id$pos)), 1, 12), 16, 10) as bigint)"
  }

  private def hmod(seed: Long, tag: String, m: Long, posExpr: String = ""): String =
    s"(${h48(seed, tag, posExpr)} % $m)"

  /** Random fixed-charset string of length in [minLen, minLen+lenSpread). */
  private def randString(seed: Long, tag: String, chars: String,
                         minLen: Int, lenSpread: Int): Column = {
    val len = s"($minLen + ${hmod(seed, s"${tag}len", lenSpread)})"
    expr(
      s"""array_join(transform(sequence(1, cast($len as int)),
         |  i -> substr('$chars', cast(${hmod(seed, s"${tag}c", chars.length, "i")} + 1 as int), 1)), '')""".stripMargin)
  }

  /** `n` deterministic records with schema
    * (row_id, id, name, address, continent). */
  def records(spark: SparkSession, n: Long, seed: Long = 42,
              numPartitions: Int = 32): DataFrame = {
    val continentList = Continents.map(c => s"'$c'").mkString(", ")
    spark.range(0, n, 1, numPartitions)
      .withColumnRenamed("id", "row_id")
      .select(
        col("row_id"),
        expr(s"cast(${hmod(seed, "id", 2147483648L)} as int)").as("id"),
        randString(seed, "nm", NameChars, 10, 6).as("name"),
        randString(seed, "ad", AddressChars, 15, 6).as("address"),
        expr(s"element_at(array($continentList), cast(${hmod(seed, "ct", 6)} + 1 as int))")
          .as("continent"))
  }

  /** Records encoded as the reference's CSV lines (`generator.go:44-56`). */
  def csvLines(spark: SparkSession, n: Long, seed: Long = 42,
               numPartitions: Int = 32): DataFrame =
    records(spark, n, seed, numPartitions)
      .select(col("row_id"), CsvCodec.encode(
        col("id"), col("name"), col("address"), col("continent")).as("line"))

  /** Volume variant for throughput runs: same domains, but driven by
    * `xxhash64` with base-N digit decomposition — one 64-bit hash yields
    * 10 characters, so a record costs at most 8 hashes instead of ~35 md5s.
    * `name` and `address` are each one [[HashChars]] expression, whose
    * generated code is a single call per row; `id` and `continent` are
    * one `xxhash64` each. Not oracle-replayable (DuckDB lacks xxhash64);
    * the graded [[records]] path stays md5-based. */
  def recordsFast(spark: SparkSession, n: Long, seed: Long = 42,
                  numPartitions: Int = 32): DataFrame = {
    def h(tag: String): String = s"xxhash64($seed, '$tag', row_id)"
    val continentList = Continents.map(c => s"'$c'").mkString(", ")
    spark.range(0, n, 1, numPartitions)
      .withColumnRenamed("id", "row_id")
      .select(
        col("row_id"),
        expr(s"cast(pmod(${h("id")}, 2147483648) as int)").as("id"),
        HashChars(col("row_id"), seed, "nm", NameChars, 10, 6).as("name"),
        HashChars(col("row_id"), seed, "ad", AddressChars, 15, 6).as("address"),
        expr(s"element_at(array($continentList), cast(pmod(${h("ct")}, 6) as int) + 1)")
          .as("continent"))
  }

  /** DuckDB SQL replaying [[records]] exactly (for the oracle gate). */
  def oracleSql(n: Long, seed: Long = 42): String = {
    def h(tag: String, pos: String = ""): String = {
      val p = if (pos.isEmpty) "" else s" || ':' || $pos"
      s"('0x' || substr(md5('$seed:$tag:' || row_id$p), 1, 12))::BIGINT"
    }
    def rs(tag: String, chars: String, minLen: Int, spread: Int): String =
      s"""array_to_string(list_transform(generate_series(1, cast($minLen + ${h(s"${tag}len")} % $spread AS INT)),
         |    i -> substr('$chars', cast(${h(s"${tag}c", "i")} % ${chars.length} + 1 AS INT), 1)), '')""".stripMargin
    val continentList = Continents.map(c => s"'$c'").mkString(", ")
    s"""SELECT row_id,
       |  cast(${h("id")} % 2147483648 AS INT) AS id,
       |  ${rs("nm", NameChars, 10, 6)} AS name,
       |  ${rs("ad", AddressChars, 15, 6)} AS address,
       |  ([$continentList])[cast(${h("ct")} % 6 + 1 AS INT)] AS continent
       |FROM (SELECT unnest(generate_series(0, ${n - 1})) AS row_id) t
       |ORDER BY row_id""".stripMargin
  }
}
