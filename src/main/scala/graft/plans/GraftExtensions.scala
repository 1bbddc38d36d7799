package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{ArrayDotProduct, MinHashBandKeys, MinHashSignature, SimHash64, WordShingles}

/** Catalyst integration point: registers graft's native expressions with a
  * SparkSession at build time, through the session builder's
  * `.withExtensions(new GraftExtensions)`, or via config (cluster
  * deployments, no code change):
  * `spark.sql.extensions=graft.plans.GraftExtensions`. After registration
  * the full `graft_*` family — `graft_dot`, `graft_shingles`,
  * `graft_minhash`, `graft_bandkeys`, `graft_simhash` — is available from
  * SQL text as well as the Column API, so a SQL-only user can write the
  * whole dedup pipeline (see the `dedup_minhash_lsh_sql` driver query).
  *
  * (Runtime registration for sessions created elsewhere — e.g. the
  * driver-owned session in `SparkEntry` — goes through
  * [[graft.functions.ArrayOps.register]] /
  * [[graft.functions.TextHashOps.register]], which target the session's
  * function registry directly. Both paths bind the same expressions.)
  *
  * No custom `Rule`/`SparkStrategy` is injected: SURVEY.md §4.2 —
  * every reference operator maps to stock Catalyst plans; the genuinely
  * missing pieces were codegen'd scalar kernels, which function injection
  * covers.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  private type Exprs = Seq[org.apache.spark.sql.catalyst.expressions.Expression]

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, clazz: Class[_],
               build: Exprs => org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getCanonicalName, name), build))
    inject("graft_dot", classOf[ArrayDotProduct],
      exprs => ArrayDotProduct(exprs.head, exprs(1)))
    inject("graft_shingles", classOf[WordShingles], WordShingles.build)
    inject("graft_minhash", classOf[MinHashSignature],
      exprs => MinHashSignature(exprs.head))
    inject("graft_bandkeys", classOf[MinHashBandKeys],
      exprs => MinHashBandKeys(exprs.head))
    inject("graft_simhash", classOf[SimHash64],
      exprs => SimHash64(exprs.head))
  }
}
