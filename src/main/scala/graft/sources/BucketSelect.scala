package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EqualNullSafe, EqualTo, Expression, In, Literal, Pmod, PredicateHelper, XxHash64}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/**
 * Bucket selection for primary-key predicates — the Spark-native analog
 * of Paimon's `BucketSelectConverter`, which lets a fixed-bucket scan
 * read only the buckets a key equality hashes to. Everything here runs
 * on the driver over literals: no listing, no Spark job.
 *
 * A predicate selects buckets only when every primary-key column is
 * pinned by a top-level conjunct `k = v`, `k <=> v` or `k IN (v, ...)`
 * whose literal side already has the column's declared type (coercion
 * casts of the LITERAL are folded; a cast COLUMN declines), and the
 * cross-product of the pinned values is smaller than the bucket count
 * (at N tuples the selection could not beat a full read). Each tuple is
 * hashed with [[bucketOf]], the write path's own expression. Other
 * conjuncts are ignored: the caller re-applies the whole predicate
 * after the merge, so the selection only ever has to be a superset.
 */
private[sources] object BucketSelect extends PredicateHelper {

  /** The bucket a primary-key tuple lands in: `pmod(xxhash64(keys), n)`
    * as an int. The ONE definition of bucket placement — the write path
    * evaluates it over the key columns ([[GraftCatalog.bucketExpr]]),
    * selection and [[GraftCatalog.bucketFor]] over literals. */
  def bucketOf(keys: Seq[Expression], n: Int): Expression =
    Cast(Pmod(new XxHash64(keys), Literal(n.toLong)), IntegerType)

  /** Bucket of a tuple of foldable key expressions, evaluated driver-side. */
  def bucketOfLiterals(keys: Seq[Expression], n: Int): Int =
    bucketOf(keys, n).eval().asInstanceOf[Int]

  /**
   * The sorted buckets `pred` can hit on a table whose primary key is
   * `pk` (column name, declared type — in key order) laid out over `n`
   * buckets; None = no selection (read every bucket). An empty result
   * means no row can match (`k = 1 AND k = 2`, `k = NULL`).
   */
  def select(pk: Seq[(String, DataType)], n: Int, pred: Expression): Option[Seq[Int]] = {
    if (pk.isEmpty || !pk.forall(c => hashable(c._2))) return None
    val conjuncts = splitConjunctivePredicates(pred)
    val resolver = SQLConf.get.resolver
    val pinned = pk.map { case (name, dt) =>
      val sets = conjuncts.flatMap(pins(_, name, dt, resolver))
      if (sets.isEmpty) None
      else Some(sets.reduce((a, b) => a.filter(v => b.contains(v))))
    }
    if (pinned.exists(_.isEmpty)) return None
    val values = pinned.map(_.get)
    // tuple count capped at n, so long IN lists on a composite key
    // cannot overflow on the way to "too many"
    val tuples = values.foldLeft(1L)((acc, vs) => math.min(acc * vs.size, n.toLong))
    if (tuples >= n) return None
    val combos = values.foldLeft(Seq(Seq.empty[Any]))((acc, vs) =>
      for (prefix <- acc; v <- vs) yield prefix :+ v)
    Some(combos.map(t => bucketOfLiterals(
      t.zip(pk).map { case (v, (_, dt)) => Literal(v, dt) }, n)).distinct.sorted)
  }

  /** Key types whose catalyst values compare by plain equality exactly
    * as SQL `=` does. Floating point (`-0.0 = 0.0`, NaN), binary (array
    * identity) and non-binary collations hash equal values apart or
    * compare them wrongly here — those keys never select. */
  private def hashable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType => true
    case DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case s: StringType => s == StringType // the default UTF8_BINARY collation
    case _ => false
  }

  /** The values conjunct `e` pins column `name` to (nulls dropped where
    * they cannot match), or None when `e` does not pin that column. */
  private def pins(e: Expression, name: String, dt: DataType,
      resolver: (String, String) => Boolean): Option[Seq[Any]] = {
    def isKey(a: Expression): Boolean = a match {
      case r: AttributeReference => resolver(r.name, name) && r.dataType == dt
      case _ => false
    }
    // Some(value) for a foldable literal side of the declared type (a
    // null value is Some(null)); None for anything else
    def value(v: Expression): Option[Any] =
      if (!v.foldable || !v.deterministic || v.dataType != dt) None
      else try Some(v.eval()) catch { case NonFatal(_) => None }
    e match {
      case EqualTo(a, v) if isKey(a) => value(v).map(x => Option(x).toSeq)
      case EqualTo(v, a) if isKey(a) => value(v).map(x => Option(x).toSeq)
      case EqualNullSafe(a, v) if isKey(a) => value(v).map(Seq(_))
      case EqualNullSafe(v, a) if isKey(a) => value(v).map(Seq(_))
      case In(a, list) if isKey(a) =>
        val vs = list.map(value)
        if (vs.exists(_.isEmpty)) None
        else Some(vs.flatMap(x => Option(x.get)).distinct)
      case _ => None
    }
  }
}
