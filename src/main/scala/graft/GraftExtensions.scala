package graft

import graft.functions.CosineSimilarity
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: exposes graft's native expressions
  * to SQL users. Activate via `.withExtensions(new GraftExtensions)` (the
  * Engine factory does) or `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  import org.apache.spark.sql.catalyst.expressions.Expression

  private def unary(name: String, clazz: Class[_], build: Expression => Expression) = (
    new FunctionIdentifier(name),
    new ExpressionInfo(clazz.getName, name),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        s"$name requires 1 argument, got ${children.length}")
      build(children.head)
    })

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName,
        "cosine_similarity"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          s"cosine_similarity requires 2 arguments, got ${children.length}")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction(unary("rolling_hash",
      classOf[graft.functions.RollingHash], graft.functions.RollingHash(_)))
    ext.injectFunction(unary("minhash_signature",
      classOf[graft.functions.MinHashSignature],
      graft.functions.MinHashSignature(_)))
    ext.injectFunction(unary("shingle_hashes",
      classOf[graft.functions.ShingleHashes],
      graft.functions.ShingleHashes(_)))
    // SQL MERGE INTO / UPDATE over GraftCatalog tables → the file-pruned
    // TxnTable change machinery (graft.sources.GraftDmlRule)
    ext.injectResolutionRule(graft.sources.GraftDmlRule)
    // SQL READS of merge-on-read snapshots → the tombstone anti-join
    // plan (graft.sources.GraftMorReadRule); DML targets keep their
    // relation for the rule above
    // transparent materialized-view rewriting: a plain aggregate over a
    // base table with a registered FRESH MV is served from the MV
    // (graft.sources.GraftMvRewriteRule); stale MVs never serve.
    // Injected BEFORE the merge-on-read swap below so that when the
    // aggregate and its tombstoned base relation resolve in the same
    // analyzer iteration (the common case), the rewrite sees the
    // relation first — the Mor swap would otherwise hide it. Best
    // effort, not a guarantee: an aggregate that takes one more
    // iteration to resolve loses the relation to the swap and pays the
    // base scan — acceleration lost, correctness untouched
    ext.injectResolutionRule(graft.sources.GraftMvRewriteRule)
    ext.injectResolutionRule(graft.sources.GraftMorReadRule)
    // file skipping for every manifest-backed scan (library snapshots,
    // merge-on-read SQL reads, MV-served reads): after pushdown, before
    // CBO — where Spark prunes its own file-source partitions
    ext.injectPreCBORule(_ =>
      org.apache.spark.sql.graftbridge.ManifestPruneRule)
    // CREATE/REFRESH MATERIALIZED VIEW — the declarative DDL front of
    // MatView (graft.sources.GraftSqlParser); everything else
    // delegates to Spark's own parser untouched
    ext.injectParser((_, delegate) => new graft.sources.GraftSqlParser(
      delegate))
  }
}
