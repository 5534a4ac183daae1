package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

/** THE deterministic hash bucket every sampling/split operator shares
  * (q46 sampling, q54 cascade, q57 splits, q59 rebalancing, q60
  * decontamination): bucket = first-8-hex-chars of
  * md5(id-as-string) mod 1000. One definition — the cross-query
  * consistency guarantee (a document lands in the same bucket in every
  * operator, engine, re-run and partitioning) depends on every site
  * using exactly this expression. DuckDB twin: the `hexInt % 1000`
  * list_reduce in the oracle SQL. */
object Buckets {
  def mod1000(idCol: String): Column = modN(idCol, 1000)

  /** The same first-8-hex-chars-of-md5 idiom over an arbitrary modulus —
    * q102's 256-bucket token features share the hash family (and its
    * cross-engine guarantee) rather than hand-copying the expression.
    * For a string column the inner to-string cast is the identity, so
    * one definition serves ids and tokens alike. */
  def modN(c: String, n: Int): Column = expr(sqlModN(c, n))

  /** The raw SQL form, for call sites that need the idiom inside a SQL
    * expression string where a Column can't reach — same
    * single-definition guarantee. */
  def sqlModN(c: String, n: Int): String = s"${sqlH8(c)} % $n"

  /** The shared first-8-hex-chars-of-md5 value BEFORE the modulus — for
    * call sites that bucket the same key under two different moduli
    * (q137's teacher mod-64 LM buckets and student mod-257 features):
    * hash once, mod twice. `h8 % n` is bit-identical to [[sqlModN]] by
    * construction (h8 ∈ [0, 2³²), non-negative, so % agrees). */
  def sqlH8(c: String): String =
    s"cast(conv(substring(md5(cast(cast($c as string) as binary)), 1, 8), 16, 10) as long)"
}
