package graft

import graft.functions.BinaryFunctions.{AutoDecompress, DecodeBackslashReplace, GzipCompress, ZlibCompress}
import graft.functions.GelfFunctions.GelfChunkParse
import graft.functions.SketchFunctions.{KMinValues, PolyHash}
import graft.functions.VectorFunctions.{DotProductL, HyperplaneCode, NormSqL}
import graft.operators.Framing.SyslogFrames
import graft.operators.Proxy.ProxyV2Parse
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL surface of the graft library: registers the custom Catalyst
  * expressions as SQL functions so `spark.sql("SELECT
  * graft_frames(blob) ...")` works anywhere DataFrames do — notebooks,
  * JDBC, SQL-only pipelines.
  *
  * Usage: `.withExtensions(new GraftExtensions)` on the session
  * builder, or `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "4.0.0", "", "scala_udf")

  private def unary(name: String, usage: String, f: Expression => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"$name expects exactly 1 argument")
        f(args.head)
      })

  override def apply(ext: SparkSessionExtensions): Unit = {
    Seq(
      unary("graft_frames",
        "RFC6587 de-framing: connection BINARY blob -> ARRAY<BINARY> messages",
        SyslogFrames(_)),
      unary("graft_gzip",
        "gzip level 9 (spool record format): BINARY -> BINARY",
        GzipCompress),
      unary("graft_zlib", "zlib deflate: BINARY -> BINARY", ZlibCompress),
      unary("graft_decompress",
        "zlib/gzip magic-sniffed decompress, passthrough otherwise",
        AutoDecompress),
      unary("graft_decode",
        "UTF-8 decode with Python backslashreplace semantics: BINARY -> STRING",
        DecodeBackslashReplace),
      unary("graft_gelf_chunk",
        "chunked-GELF header parse: BINARY -> struct(id, seq, total, payload)",
        GelfChunkParse),
      unary("graft_proxy_v2",
        "PROXY protocol v2 header parse: BINARY -> struct(...)",
        ProxyV2Parse),
      unary("graft_norm_sq",
        "Σ vᵢ² over ARRAY<BIGINT> (codegen'd primitive loop)",
        NormSqL),
      (FunctionIdentifier("graft_dot"),
        info("graft_dot", "Σ aᵢ·bᵢ over two ARRAY<BIGINT> (codegen'd)"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_dot expects exactly 2 arguments")
          DotProductL(args.head, args(1))
        }),
      unary("graft_poly_hash",
        "rolling polynomial hash mod 1e9+7 (portable across engines): STRING -> BIGINT",
        PolyHash),
      (FunctionIdentifier("graft_kmin_values"),
        info("graft_kmin_values",
          "KMV sketch aggregate: k smallest distinct BIGINTs; arg 2 = k (literal)"),
        (args: Seq[Expression]) => {
          require(args.length == 2, "graft_kmin_values expects (value, k)")
          val k = args(1) match {
            case Literal(v: Int, _) => v
            case other => throw new IllegalArgumentException(
              s"k must be an integer literal, got $other")
          }
          // bare AggregateFunction: the analyzer wraps it in an
          // AggregateExpression exactly as for built-in aggregates
          KMinValues(args.head, k)
        }),
      (FunctionIdentifier("graft_hyperplane_code"),
        info("graft_hyperplane_code",
          "hyperplane-LSH bucket code of ARRAY<BIGINT>; arg 2 = plane count (literal)"),
        (args: Seq[Expression]) => {
          require(args.length == 2,
            "graft_hyperplane_code expects (vector, planes)")
          val planes = args(1) match {
            case Literal(v: Int, _) => v
            case other => throw new IllegalArgumentException(
              s"planes must be an integer literal, got $other")
          }
          HyperplaneCode(args.head, planes)
        })
    ).foreach(ext.injectFunction)
    // band (interval) joins: users write the natural inequality
    // predicate; the optimizer derives the bucketized equality join
    // (see graft.plans.RangeJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // whole-plan top-k-per-key operator (partial heap → shuffle →
    // final merge; see graft.plans.TopKPerKey)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    // the row_number()-filter-drop idiom auto-rewrites to that
    // operator (see graft.plans.TopKRewrite)
    ext.injectOptimizerRule(_ => graft.plans.TopKRewrite)
  }
}
