package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, IntegerLiteral}
import org.apache.spark.sql.graft.{BitLength64, CosineSimilarity, JsonPartitionEncode, Md5Prefix, SignLshBuckets}
import org.apache.spark.unsafe.types.UTF8String

/** Session extensions entry point — wire with
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Registers the engine's custom Catalyst expressions for SQL use:
  * `cosine_similarity(a, b)`, `sign_lsh_buckets(embedding, nTables,
  * bitsPerTable, dim)`, `json_partition_encode(json, 'k1', …)`,
  * `md5_prefix(x, k)` (the catalog hash: the first k md5 hex digits of x as
  * a BIGINT, k an integer literal in 1..15) and `bit_length64(x)` (the bit
  * length of a BIGINT, the HLL rank's building block). No
  * optimizer rules or planner strategies are injected: every reference-parity
  * operator plans fine through stock Catalyst (SURVEY §4), and an
  * LSH-bucketed rewrite of cosine-threshold joins would change results — it
  * stays an explicit API ([[graft.ops.Similarity.annTopK]]), not a silent
  * plan rewrite.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(exprs(0), exprs(1))))
    // sign_lsh_buckets(embedding, nTables, bitsPerTable, dim) — the three
    // shape arguments must be integer literals (planes materialize at plan
    // time).
    e.injectFunction((
      FunctionIdentifier("sign_lsh_buckets"),
      new ExpressionInfo(classOf[SignLshBuckets].getName, "sign_lsh_buckets"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => exprs match {
        case Seq(emb, IntegerLiteral(t), IntegerLiteral(b), IntegerLiteral(d)) =>
          SignLshBuckets(emb, t, b, d)
        case _ => throw new IllegalArgumentException(
          "sign_lsh_buckets(embedding, nTables, bitsPerTable, dim) requires integer literals")
      }))
    // json_partition_encode(json, 'k1', 'k2', ...) — known keys as string
    // literals.
    e.injectFunction((
      FunctionIdentifier("json_partition_encode"),
      new ExpressionInfo(classOf[JsonPartitionEncode].getName, "json_partition_encode"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        val known = exprs.tail.map {
          case org.apache.spark.sql.catalyst.expressions.Literal(s: UTF8String, _) => s.toString
          case other => throw new IllegalArgumentException(
            s"json_partition_encode known keys must be string literals, got $other")
        }
        JsonPartitionEncode(exprs.head, known)
      }))
    // md5_prefix(x, k) — k an integer literal in 1..15 (Md5Prefix rejects
    // the rest; 16 digits overflow BIGINT).
    e.injectFunction((
      FunctionIdentifier("md5_prefix"),
      new ExpressionInfo(classOf[Md5Prefix].getName, "md5_prefix"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => exprs match {
        case Seq(x, IntegerLiteral(k)) => Md5Prefix(x, k)
        case _ => throw new IllegalArgumentException(
          "md5_prefix(x, k) requires k as an integer literal in 1..15")
      }))
    e.injectFunction((
      FunctionIdentifier("bit_length64"),
      new ExpressionInfo(classOf[BitLength64].getName, "bit_length64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => exprs match {
        case Seq(x) => BitLength64(x)
        case _ => throw new IllegalArgumentException("bit_length64(x) takes one argument")
      }))
  }
}
