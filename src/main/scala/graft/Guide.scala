package graft

/** Generates the machine-derived sections of USER_GUIDE.md from the code
  * itself, so the doc cannot drift from the registry:
  *
  *  - `registry`: one markdown table row per registered cs_* SQL function
  *    (name + its ExpressionInfo usage string), straight from
  *    [[graft.sqlext.GraftFunctions.all]];
  *  - `queries`: one row per gated query in [[SparkEntry.queryDefs]].
  *
  * Run via `bash tools/gen_guide.sh`, which splices the output between
  * the GENERATED markers in USER_GUIDE.md; `GuideSpec` fails when the
  * committed blocks differ from it. No SparkSession is started — both
  * tables are static metadata.
  */
object Guide {
  private def esc(s: String): String =
    s.replace("|", "\\|").replace("\n", " ")

  def registry: String = {
    val all = graft.sqlext.GraftFunctions.all
    (Seq(
      s"${all.size} registered names. Everything below is a NATIVE",
      "Catalyst expression (whole-stage codegen, no UDF serialization).",
      "",
      "| SQL name | usage |",
      "|---|---|") ++
      all.sortBy(_._1).map { case (n, _, u) => s"| `$n` | ${esc(u.stripPrefix(n))} |" }
    ).mkString("\n")
  }

  def queries: String = {
    val qs = SparkEntry.queryDefs.map(_.name).sorted
    (Seq(
      s"${qs.size} gated queries (graft.Verify dumps each to parquet;",
      "tools/check.py replays the oracle SQL in DuckDB and diffs rows,",
      "schema, and value hashes).",
      "",
      "| gate query | verification |",
      "|---|---|") ++
      qs.map(q => s"| $q | DuckDB oracle (rows+schema+hash) |")
    ).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    // UTF-8 whatever the locale: usage strings carry non-ASCII (Σ, —)
    val out = new java.io.PrintStream(System.out, true, "UTF-8")
    args.headOption.getOrElse("registry") match {
      case "registry" => out.println(registry)
      case "queries" => out.println(queries)
      case other =>
        System.err.println(s"unknown mode '$other' (registry|queries)")
        sys.exit(2)
    }
  }
}
