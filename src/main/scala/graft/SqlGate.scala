package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{Command, InsertIntoDir, LogicalPlan, ParsedStatement, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.sources.{Parquet, ZTable}

/** The serving face's universal query door: read-only ANSI SQL over an
  * EXPLICIT table set — the Spark-native answer to the reference's
  * arbitrary-program `POST /q` (ref `src/server/query.rs:147-232`
  * accepts a whole Julia program as the query language). Arbitrary
  * PROGRAMS don't belong on a shared Spark serving pool; arbitrary
  * READ-ONLY SQL is the honest equivalent: every relational shape the
  * engine supports, none of the writes.
  *
  * Guard design (why parse-then-substitute instead of `spark.sql` over
  * registered views):
  *
  *  1. READ-ONLY is enforced on the PARSED plan before anything runs:
  *     any `Command` (DDL, SET, CACHE, ANALYZE, INSERT OVERWRITE DIR …)
  *     or `ParsedStatement` (INSERT/UPDATE/DELETE/MERGE statements parse
  *     to these before analysis) anywhere in the tree — including inside
  *     subquery expressions — is refused by CLASS, not by keyword
  *     matching, so dialect spellings can't sneak a write past a regex.
  *  2. TABLE ACCESS is an allowlist, not the session catalog: every
  *     `UnresolvedRelation` must name a table in the request's map and
  *     is substituted with that table's plan directly (ZTable roots —
  *     dirs with `_meta.json` — open through the facade, so scans keep
  *     recorded-schema/recovery semantics; anything else reads as plain
  *     parquet). Multipart names (`parquet.`/any/path``, catalog.db.t)
  *     and session temp views are therefore unreachable — the catalog
  *     escape a shared long-lived session would otherwise hand every
  *     HTTP client.
  *  3. Relations are rewritten per-request with NO shared-session
  *     `createOrReplaceTempView` mutation, so concurrent `/q` sql
  *     requests can't race each other's view names.
  *
  * CTE names are legal (they resolve through Spark's own analyzer) but
  * may not SHADOW a served table name — the substitution rewrites
  * relations before CTESubstitution runs, so a shadowing name would
  * silently read the table instead of the CTE; refusing the collision
  * keeps the two resolutions from diverging.
  */
object SqlGate {

  /** Parse, gate, and run one read-only SQL statement over `tables`
    * (name → ZTable dir or parquet path). */
  def run(spark: SparkSession, query: String, tables: Map[String, String]): DataFrame = {
    val parsed = spark.sessionState.sqlParser.parsePlan(query)
    parsed.foreachWithSubqueries {
      case c: Command => throw new IllegalArgumentException(
        s"sql is read-only: statement contains ${c.nodeName}")
      case s: ParsedStatement => throw new IllegalArgumentException(
        s"sql is read-only: statement contains ${s.nodeName}")
      // the one parser-produced write that is neither a Command nor a
      // ParsedStatement in Spark 4.1 (INSERT OVERWRITE DIRECTORY parses
      // to a plain UnaryNode; verified against the catalyst jar —
      // DELETE/UPDATE/MERGE/CTAS/INSERT all land in the two cases above)
      case d: InsertIntoDir => throw new IllegalArgumentException(
        s"sql is read-only: statement contains ${d.nodeName}")
      // EXECUTE IMMEDIATE compiles and runs its INNER statement (a
      // string, invisible to this parse) against the SESSION CATALOG at
      // analysis time — a gate-and-allowlist bypass in one keyword. It
      // parses to a plain UnresolvedLeafNode (not Command/
      // ParsedStatement), so it must be refused by name. Scripting
      // blocks (BEGIN..END → CompoundBody) are already Commands.
      case x: org.apache.spark.sql.catalyst.analysis.UnresolvedExecuteImmediate =>
        throw new IllegalArgumentException(
          s"sql is read-only: ${x.nodeName} would run its inner statement " +
            "outside the gate")
      case p =>
        // reflect/java_method evaluate ARBITRARY static JVM methods with
        // caller-chosen arguments — not a table write, but an escalation
        // no serving face should hand out. Refused at the unresolved-
        // function level (the only place the name is still visible).
        p.expressions.foreach(_.foreach {
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
              if f.nameParts.length == 1 &&
                Set("reflect", "java_method").contains(f.nameParts.head.toLowerCase) =>
            throw new IllegalArgumentException(
              s"sql refuses ${f.nameParts.head}: arbitrary JVM reflection is " +
                "not available on the serving face")
          case _ =>
        })
    }
    val lower = tables.map { case (k, v) => k.toLowerCase -> v }
    val cteNames = parsed.collectWithSubqueries {
      case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase)
    }.flatten.toSet
    val shadowed = cteNames.intersect(lower.keySet)
    require(shadowed.isEmpty,
      s"CTE name(s) ${shadowed.mkString(", ")} shadow served table names; rename the CTE")
    // one open per distinct table, shared across references
    val opened = scala.collection.mutable.Map.empty[String, LogicalPlan]
    def planFor(name: String): LogicalPlan = opened.getOrElseUpdate(name, {
      val path = lower(name)
      val df =
        if (java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_meta.json")))
          ZTable.open(spark, path).df
        else Parquet.read(spark, path)
      df.queryExecution.logical
    })
    // CTE bodies are NOT tree children of UnresolvedWith (innerChildren
    // only), so transformUpWithSubqueries never descends into them —
    // recurse explicitly or `WITH x AS (SELECT ... FROM served_table)`
    // would reach the analyzer with its relation unsubstituted
    def subst(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, body, rec) =>
          (n, subst(body).asInstanceOf[SubqueryAlias], rec)
        })
      case u: UnresolvedRelation =>
        val parts = u.multipartIdentifier
        val name = parts.mkString(".").toLowerCase
        if (parts.length == 1 && cteNames.contains(name)) u
        else if (parts.length == 1 && lower.contains(name))
          SubqueryAlias(parts.head, planFor(name))
        else throw new IllegalArgumentException(
          s"unknown table '${parts.mkString(".")}': sql reads only the tables " +
            s"named in the request (${tables.keys.toSeq.sorted.mkString(", ")})")
    }
    ColumnBridge.ofRows(spark, subst(parsed))
  }
}
