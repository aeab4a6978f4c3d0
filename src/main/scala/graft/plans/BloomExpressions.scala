package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** Registry shims for Spark's OWN Bloom-filter machinery — the exact
  * expressions `InjectRuntimeFilter` uses internally for runtime join
  * pruning, exposed as session functions so the dedup ingest gate can
  * build/probe a Bloom filter inside an ordinary declarative plan:
  *
  *  - `graft_bloom_agg(xxhash64(key), estItems, numBits)` — aggregate a
  *    key column into one serialized Bloom filter (binary).
  *  - `graft_bloom_mc(bloomBinary, xxhash64(key))` — codegen'd probe;
  *    the bloom side must be a literal/scalar-subquery (Spark's own
  *    type-check), which is how the gate uses it: one small binary
  *    broadcast in the plan, zero per-row driver involvement.
  *
  * No new expression code here at all — both classes are Spark
  * built-ins (the `might_contain` SQL function surface), so codegen,
  * serialization and merge semantics are battle-tested.
  */
object BloomExpressions {

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_bloom_agg" -> (es => new BloomFilterAggregate(es(0), es(1), es(2))),
    "graft_bloom_mc" -> (es => BloomFilterMightContain(es(0), es(1))))
}
