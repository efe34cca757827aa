package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The SQL-callable Bloom primitives ([[Blooms]]): the aggregate, the
  * membership probe and its constant-probe codegen path.
  */
class BloomsSpec extends SparkSpec {
  import spark.implicits._

  private def mightContain(filter: Array[Byte], hash: Column): Column =
    call_function("bloom_might_contain", lit(filter), hash)

  test("bloom filter over inserted keys has no false negatives") {
    val keys = spark.range(1000).select(xxhash64(col("id")).as("h"))
    val bf = keys.agg(Blooms.bloomAgg(col("h"), 10000, 80000).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val misses = keys
      .filter(!mightContain(bf, col("h"))).count()
    assert(misses == 0)
  }

  test("bloom_might_contain with a CONSTANT probe compiles and answers") {
    // xxhash64(1L) folds to a negative long literal; without the
    // StableLong wrapper Spark's own `(Long)$value` codegen miscompiles
    // under Janino on exactly this shape and the stage silently drops
    // to interpreted eval (FunctionRegistrySpec checks the same shape)
    val got = spark.sql("""
      SELECT bloom_might_contain(
               (SELECT bloom_agg(xxhash64(x), 3L, 8192L)
                FROM VALUES (1L), (2L), (3L) AS t(x)),
               xxhash64(1L)) AS hit,
             bloom_might_contain(
               (SELECT bloom_agg(xxhash64(x), 3L, 8192L)
                FROM VALUES (1L), (2L), (3L) AS t(x)),
               xxhash64(999L)) AS miss
    """).as[(Boolean, Boolean)].head()
    assert(got._1, "member constant must hit")
    assert(!got._2, "non-member constant should miss at this fpp")
  }

  test("bloom filter prunes most non-members at 8 bits/item") {
    val keys = spark.range(1000).select(xxhash64(col("id")).as("h"))
    val bf = keys.agg(Blooms.bloomAgg(col("h"), 10000, 80000).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val nonMembers = spark.range(1000000, 1010000)
      .select(xxhash64(col("id")).as("h"))
    val falsePos = nonMembers
      .filter(mightContain(bf, col("h"))).count()
    assert(falsePos < 500) // ~2% expected at 8 bits/item; 5% margin
  }
}
