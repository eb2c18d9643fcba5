package perfbench

import scala.util.Try

import graft.Tables
import graft.engine.GraftSession
import graft.queries.Queries

/** Records the program's answers for the benchmark's query sets.
  *
  * {{{
  * perfbench.Record <dataDir> <workDir> <out.json>
  * }}}
  *
  * sql_analyst takes the bench queries whose DuckDB-oracle SQL
  * `GraftSession.sql` accepts; llm_pipeline takes the operator bench queries
  * whose oracle SQL it does not (TPC-H and ClickBench shapes excluded).
  * `tools/make_expected.py` recomputes each answer from the oracle SQL in
  * DuckDB and keeps the recorded digest only where no oracle exists.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, workDir, outPath) = args
    val spark = Main.session(math.min(4, Runtime.getRuntime.availableProcessors), workDir)
    Tables.enableInMemory(4)
    val gs = GraftSession(spark)
    gs.registerTestTables(dataDir)
    val bench = Queries.all.filter(_.bench)
    val (sql, rest) = bench.partition(_.oracle.exists(o => Try(gs.sql(o)).isSuccess))
    val ops = rest.filterNot(q => q.name.startsWith("tpch") || q.name.startsWith("cb"))
    def entry(sqlText: Option[String], a: Answer) =
      Map("sql" -> sqlText, "rows" -> a.rows, "digest" -> a.hex)
    val record = Map(
      "sql_analyst" -> sql.map(q =>
        q.name -> entry(q.oracle, Digest.ofCsv(gs.queryAs(q.oracle.get, "CSV")))).toMap,
      "llm_pipeline" -> ops.map { q =>
        val df = q.fn(spark, dataDir)
        q.name -> entry(q.oracle, Digest.ofRows(Workload.consume(df.queryExecution.toRdd), df.schema))
      }.toMap)
    Main.writeJson(outPath, record)
    spark.stop()
  }
}
