package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._

/** Optimizer rule: a filter on a sink table's bucket key reads only the
  * buckets the key's values hash into. [[graft.sink.LwwSink]] writes
  * every row under `kb = pmod(hash(key), nb)` (Murmur3, seed 42), so
  *
  *   key = literal        adds  kb = pmod(murmur3(literal, 42), nb)
  *   key IN (literals)    adds  kb IN (one bucket per literal)
  *
  * and `FileSourceStrategy` turns the added conjunct into a partition
  * filter: the scan lists one `kb=N` directory instead of all of them —
  * the sink's analog of the reference sending a per-symbol read to one
  * Cassandra partition.
  *
  * Only relations [[graft.sink.LwwSink.read]] built are touched: it tags
  * them with the bucket key and bucket count from the table's
  * `_manifest` ([[Layout]]), so a raw parquet read of the same directory
  * plans as before. The literal's type must equal the
  * key column's, and the key type must be one whose SQL equality is
  * byte equality — floating point (`0.0 = -0.0`) and non-binary string
  * collations (`'a' = 'A'`) can match values that hash apart. Any other
  * predicate — a range, LIKE, a non-literal comparison, a filter that
  * does not mention the key — leaves the plan as it is. Injected by
  * [[graft.GraftExtensions]].
  */
object LwwBucketPrune extends Rule[LogicalPlan] with PredicateHelper {

  /** (bucket key, bucket count) of the table a relation reads. */
  private[graft] val Layout: TreeNodeTag[(String, Int)] = TreeNodeTag("graft.lwwBucketLayout")

  /** The bucket a key value is stored under — `pmod(hash(v), nb)`. */
  private[graft] def bucketOf(v: Any, dt: DataType, nb: Int): Int = {
    val h = Murmur3Hash(Seq(Literal(v, dt)), 42).eval().asInstanceOf[Int]
    ((h % nb) + nb) % nb
  }

  private def exactEquality(dt: DataType): Boolean = dt match {
    // the StringType object is UTF8_BINARY; collated strings fall through
    case StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
        DateType | TimestampType | TimestampNTZType | BinaryType |
        _: DecimalType => true
    case _ => false
  }

  /** The buckets one conjunct confines `key` to, if it does. */
  private def bucketsOf(p: Expression, key: Attribute, nb: Int): Option[Seq[Int]] = {
    def isKey(e: Expression) = e.semanticEquals(key)
    def lit(e: Expression) = e match {
      case Literal(v, dt) if v != null && dt == key.dataType => Some(v)
      case _ => None
    }
    val values = p match {
      case EqualTo(k, l) if isKey(k) => lit(l).map(Seq(_))
      case EqualTo(l, k) if isKey(k) => lit(l).map(Seq(_))
      case In(k, list) if isKey(k) && list.nonEmpty =>
        val vs = list.flatMap(lit)
        if (vs.size == list.size) Some(vs) else None
      case InSet(k, hset) if isKey(k) && hset.nonEmpty && !hset.contains(null) =>
        Some(hset.toSeq)
      case _ => None
    }
    values.map(_.map(bucketOf(_, key.dataType, nb)).distinct.sorted)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation) =>
      pruned(cond, rel).map(Filter(_, rel)).getOrElse(f)
  }

  /** `cond` and a bucket filter, when `cond` confines the key of a
    * relation [[graft.sink.LwwSink.read]] tagged. */
  private def pruned(cond: Expression, rel: LogicalRelation): Option[Expression] = for {
    (keyName, nb) <- rel.getTagValue(Layout)
    key <- rel.output.find(_.name == keyName) if exactEquality(key.dataType)
    kb <- rel.output.find(a => a.name == "kb" && a.dataType == IntegerType)
    conjuncts = splitConjunctivePredicates(cond)
    // idempotent: a filter that already constrains kb is left alone
    if !conjuncts.exists(_.references.contains(kb))
    buckets <- conjuncts.flatMap(bucketsOf(_, key, nb)).headOption
  } yield And(cond, buckets match {
    case Seq(n) => EqualTo(kb, Literal(n))
    case ns => In(kb, ns.map(Literal(_)))
  })
}
