package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** The one SQL binding of the engine's scalars, enabled on any session by
  *   spark.sql.extensions=graft.GraftExtensions
  * (`GraftSession.create` sets it). Each SQL name builds its expression
  * from the `Functions` Column function of the same name, so SQL and
  * Column results cannot differ. Sessions made by `newSession()` inherit
  * the names. A call with the wrong number of arguments fails analysis. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    for ((name, arity, build) <- GraftExtensions.functions)
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (args: Seq[Expression]) => {
          if (args.length != arity) throw Bridge.wrongNumArgs(name, arity, args.length)
          Bridge.expression(build(args.map(Bridge.column)))
        }))
}

object GraftExtensions {
  /** (SQL name, arity, Column builder) of every bound name. */
  val functions: Seq[(String, Int, Seq[Column] => Column)] = Seq(
    ("surt", 1, a => Functions.surt(a(0))),
    ("canonicalize_url", 1, a => Functions.canonicalizeUrl(a(0))),
    ("timestamp14", 1, a => Functions.timestamp14(a(0))),
    ("sha1_b32", 1, a => Functions.sha1B32(a(0))),
    ("decode_payload", 3, a => Functions.decodePayload(a(0), a(1), a(2))),
    ("dechunk", 1, a => Functions.dechunk(a(0))),
    ("post_to_get", 4, a => Functions.postToGet(a(0), a(1), a(2), a(3))),
    ("parse_headers", 1, a => Functions.parseHeaders(a(0))),
    ("host_of", 1, a => Functions.hostOf(a(0))))
}
