package perfbench

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.Tables
import graft.engine.GraftSession
import graft.io.DeltaNative

/** One operation of a pass: `run` makes the timed public calls and returns
  * the untimed answer check (None = correct, Some(reason) = wrong).
  */
final case class Op(name: String, kind: String, run: Tracer => () => Option[String])

/** An expected answer: the input SQL (sql_analyst) or query name
  * (llm_pipeline), with the row count and digest it must produce.
  */
final case class Expected(name: String, sql: String, rows: Long, digest: String)

final class Ctx(val seed: Long, val cores: Int, val dataDir: String,
    val workDir: String, val expected: Map[String, Seq[Expected]]) {
  /** The table directory as set-up `rep` names it: a distinct spelling of
    * the same path, so each set-up loads its own copy into `Tables`'
    * in-memory registry instead of reusing the previous session's.
    */
  def tableDir(rep: Int): String = dataDir + "/." * rep

  def shuffled[T](xs: Seq[T], pass: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)

  def check(got: Answer, e: Expected): Option[String] =
    if (got.rows != e.rows) Some(s"${e.name}: ${got.rows} rows, expected ${e.rows}")
    else if (got.hex != e.digest) Some(s"${e.name}: digest ${got.hex}, expected ${e.digest}")
    else None
}

trait Workload {
  /** Build this set-up's tables on `spark`; returns the ms spent loading
    * or creating them (the io layer's share of set-up).
    */
  def setup(spark: SparkSession, rep: Int): Double
  /** The operations of pass `index` (0 is the cold pass), in seeded order. */
  def pass(index: Int): Seq[Op]
  /** Enough warm passes that the median has at least ten samples beyond it. */
  def minWarmPasses: Int
  /** Untimed facts recorded after each pass. */
  def afterPass(index: Int): Map[String, Any] = Map.empty
  /** (bytes on disk of the table directories, bytes of their live data files). */
  def footprint: (Long, Long)
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "sql_analyst" => new SqlAnalyst(ctx)
    case "llm_pipeline" => new LlmPipeline(ctx)
    case "ingest_mutate" => new IngestMutate(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def ms(body: => Unit): Double = {
    val t0 = System.nanoTime; body; (System.nanoTime - t0) / 1e6
  }

  /** chdb's `query(sql, "CSV")`. Traced, the same calls are made one by
    * one: `GraftSession.sql` (parse/analyze), the optimized and physical
    * plans (lazy values `collect` would force), then the `Dataset.collect`
    * and per-value `toString` rendering that `queryAs` makes. `collect`
    * prepares the plan (codegen, broadcast and subquery jobs) inside the
    * same call as its result job, so on this path both are the run span.
    */
  def queryAs(tr: Tracer, gs: GraftSession, sql: String): String =
    if (!tr.enabled) gs.queryAs(sql, "CSV")
    else {
      val df = tr.span("engine.sql")(gs.sql(sql))
      val qe = df.queryExecution
      tr.span("plan.optimize")(qe.optimizedPlan)
      tr.span("plan.physical")(qe.executedPlan)
      tr.span("run") {
        val sb = new StringBuilder
        val rows = df.collect()
        rows.foreach { r =>
          sb.append((0 until r.length).map { i =>
            val v = r.get(i); if (v == null) "\\N" else v.toString
          }.mkString(",")).append('\n')
        }
        tr.note("rows_out", rows.length)
        tr.note("rows_read", PlanBridge.scanTotals(qe.executedPlan)._1)
        sb.toString
      }
    }

  /** Consume the result of `QueryExecution.toRdd` in one job, copying its
    * rows out to the driver.
    */
  def consume(rdd: RDD[InternalRow]): Array[InternalRow] =
    rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => it.map(_.copy()).toArray).flatten

  def filesUnder(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (!d.exists) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(d.toPath)
      try s.iterator.asScala.map(_.toFile).filter(_.isFile).toList finally s.close()
    }
  }
}

/** The tables a query set reads, loaded once into memory and registered
  * as views, as the embedded analyst runs them.
  */
abstract class CachedTables(ctx: Ctx, tables: Seq[String]) extends Workload {
  protected var spark: SparkSession = _
  protected var gs: GraftSession = _
  protected var dir: String = _

  def setup(s: SparkSession, rep: Int): Double = {
    spark = s
    dir = ctx.tableDir(rep)
    Tables.enableInMemory(ctx.cores)
    gs = GraftSession(s)
    Workload.ms(tables.foreach(t => Tables.load(s, dir, t).createOrReplaceTempView(t)))
  }

  def footprint: (Long, Long) = {
    val all = Workload.filesUnder(ctx.dataDir).map(_.length).sum
    (all, GraftSession.tableNames.map(t => new java.io.File(s"${ctx.dataDir}/$t.parquet").length).sum)
  }
}

/** `GraftSession.queryAs(sql, "CSV")` over the bench queries' SQL text,
  * which reads every test table but `embeddings`.
  */
final class SqlAnalyst(ctx: Ctx)
    extends CachedTables(ctx, GraftSession.tableNames.filterNot(_ == "embeddings")) {
  def minWarmPasses = 1
  def pass(index: Int): Seq[Op] = ctx.shuffled(ctx.expected("sql_analyst"), index).map { e =>
    Op(e.name, "read", tr => {
      val csv = Workload.queryAs(tr, gs, e.sql)
      () => ctx.check(Digest.ofCsv(csv), e)
    })
  }
}

/** Operator queries built through `QueryDef.fn`, consumed with toRdd + runJob. */
final class LlmPipeline(ctx: Ctx)
    extends CachedTables(ctx, Seq("documents", "embeddings", "events")) {
  private val defs = graft.queries.Queries.all.map(q => q.name -> q).toMap
  def minWarmPasses = 1
  def pass(index: Int): Seq[Op] = ctx.shuffled(ctx.expected("llm_pipeline"), index).map { e =>
    val q = defs.getOrElse(e.name, throw new NoSuchElementException(e.name))
    Op(e.name, "read", tr => {
      val df = tr.span("operators.build")(q.fn(spark, dir))
      val qe = df.queryExecution
      if (tr.enabled) {
        tr.span("plan.optimize")(qe.optimizedPlan)
        tr.span("plan.physical")(qe.executedPlan)
      }
      val rdd = tr.span("prepare")(qe.toRdd)
      val rows = tr.span("run") {
        val rows = Workload.consume(rdd)
        tr.note("rows_out", rows.length)
        tr.note("rows_read", PlanBridge.scanTotals(qe.executedPlan)._1)
        rows
      }
      () => ctx.check(Digest.ofRows(rows, df.schema), e)
    })
  }
}

/** Writes beside reads on two Delta tables: appends to `ev`, copy-on-write
  * UPDATE/DELETE on `acct`, an incremental aggregate view over `ev`, and
  * compaction every third round. The generator keeps its own model of both
  * tables, so every read checks that the acknowledged writes are visible.
  */
final class IngestMutate(ctx: Ctx) extends Workload {
  private val rng = new scala.util.Random(ctx.seed)
  private val kinds = Seq("view", "click", "cart", "buy", "share", "like", "search", "exit")
  private val initialRows = 20000
  private val groups = 50
  private val deleteModulus = 101
  private val deleteKeys = rng.shuffle((0 until deleteModulus).toList).toIndexedSeq
  // logical bytes of one row (id, user_id, kind, amount, ts / id, grp, balance, status)
  private val evRowBytes = 8 + 4 + 6 + 8 + 8
  private val acctRowBytes = 8 + 4 + 8 + 1

  private var spark: SparkSession = _
  private var gs: GraftSession = _
  private var evPath: String = _
  private var acctPath: String = _
  private var evSchema: org.apache.spark.sql.types.StructType = _

  private var evMaxId = initialRows - 1L
  private val live = mutable.BitSet(0 until initialRows: _*)
  private val updated = mutable.BitSet()
  private val kindRows = Array.fill(kinds.size)(initialRows.toLong / kinds.size)
  // row i of the initial table has kind i % 8
  private val maxIdByKind = Array.tabulate(kinds.size)(k => initialRows - kinds.size + k.toLong)
  private var userBytes = 0L
  private var appended = 0L

  def minWarmPasses = 3

  def setup(s: SparkSession, rep: Int): Double = {
    spark = s
    gs = GraftSession(s)
    val dir = s"${ctx.workDir}/ingest/rep$rep"
    evPath = s"$dir/ev"
    acctPath = s"$dir/acct"
    val kindArr = kinds.map(k => s"'$k'").mkString("array(", ",", ")")
    val ms = Workload.ms {
      DeltaNative.write(s.range(initialRows).selectExpr("id",
        "CAST(id % 1000 AS INT) AS user_id",
        s"element_at($kindArr, CAST(id % 8 AS INT) + 1) AS kind",
        "CAST(id * 37 % 10000 AS DOUBLE) / 100 AS amount",
        "timestamp_seconds(1700000000 + id) AS ts").repartition(4), evPath)
      DeltaNative.write(s.range(initialRows).selectExpr("id",
        s"CAST(id % $groups AS INT) AS grp",
        "CAST(id * 7 % 1000 AS DOUBLE) / 10 AS balance",
        "'a' AS status").repartition(8), acctPath)
      gs.registerDelta("ev", evPath)
      gs.registerDelta("acct", acctPath)
      gs.createIncrementalMatView("ev_by_kind", "ev", Seq("kind"),
        Seq(("count", "*", "n"), ("sum", "amount", "total")))
    }
    evSchema = s.table("ev").schema
    ms
  }

  /** A read whose CSV lines, in any order, must be `want`. */
  private def expectCsv(sql: String, want: Seq[String]): Op =
    Op(sql, "read", tr => {
      val got = Workload.queryAs(tr, gs, sql).split("\n").filter(_.nonEmpty).sorted.toSeq
      () => if (got == want.sorted) None
        else Some(s"$sql: got ${got.mkString(" ")}, expected ${want.sorted.mkString(" ")}")
    })

  private def write(name: String)(body: Tracer => Unit): Op =
    Op(name, "write", tr => { body(tr); () => None })

  private def viewMatchesFull(): Option[String] = {
    val view = spark.table("ev_by_kind").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val full = spark.table("ev").groupBy("kind").agg(count(lit(1)), sum("amount")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val same = view.keySet == full.keySet && view.forall { case (k, (n, t)) =>
      val (fn, ft) = full(k); n == fn && math.abs(t - ft) <= 1e-6 * math.max(1.0, math.abs(ft))
    }
    if (same) None else Some(s"ev_by_kind differs from a full re-aggregation: $view vs $full")
  }

  def pass(r: Int): Seq[Op] = {
    val b = 400 + rng.nextInt(201)
    val first = evMaxId + 1
    val rows = new java.util.ArrayList[Row]()
    (0 until b).foreach { i =>
      val kind = rng.nextInt(kinds.size)
      kindRows(kind) += 1
      maxIdByKind(kind) = first + i
      rows.add(Row(first + i, rng.nextInt(1000), kinds(kind),
        rng.nextInt(100000) / 100.0, new java.sql.Timestamp((1800000000L + first + i) * 1000)))
    }
    val batch = spark.createDataFrame(rows, evSchema)
    evMaxId += b; appended = b
    userBytes += b.toLong * evRowBytes
    val byKind = kinds.indices.map(i => s"${kinds(i)},${kindRows(i)}")

    val g = rng.nextInt(groups)
    val hit = live.filter(_ % groups == g)
    updated ++= hit
    userBytes += hit.size.toLong * acctRowBytes
    val (liveAfterUpdate, updAfterUpdate) = (live.size, updated.size)

    val k = deleteKeys(r % deleteModulus)
    val gone = live.filter(_ % deleteModulus == k)
    live --= gone; updated --= gone
    userBytes += gone.size.toLong * acctRowBytes
    val (liveN, updN) = (live.size, updated.size)
    // total, updated and predicate-matching rows of acct
    def acctRead(pred: String, want: String) = expectCsv(
      "SELECT count(*), sum(CASE WHEN status = 'u' THEN 1 ELSE 0 END), " +
        s"sum(CASE WHEN $pred THEN 1 ELSE 0 END) FROM acct", Seq(want))
    // rows and max id per kind of ev, so one read checks count, max and mix
    def evRead = expectCsv("SELECT kind, count(*), max(id) FROM ev GROUP BY kind",
      kinds.indices.map(i => s"${kinds(i)},${kindRows(i)},${maxIdByKind(i)}"))

    // a mutate-then-read session: each write is followed by the read that
    // checks it
    Seq(
      write("append") { tr =>
        tr.span("io.write")(DeltaNative.write(batch, evPath, mode = "append"))
        tr.span("io.register")(gs.registerDelta("ev", evPath))
      },
      evRead,
      // the ALTER statement is a regex route in the engine onto the
      // copy-on-write rewrite, so its span is io's
      write("update") { tr =>
        tr.span("io.write")(gs.sql(
          s"ALTER TABLE acct UPDATE balance = balance + 1, status = 'u' WHERE grp = $g"))
      },
      acctRead(s"grp = $g AND status = 'u'", s"$liveAfterUpdate,$updAfterUpdate,${hit.size}"),
      write("delete") { tr =>
        tr.span("io.write")(gs.sql(s"ALTER TABLE acct DELETE WHERE id % $deleteModulus = $k"))
      },
      acctRead(s"id % $deleteModulus = $k", s"$liveN,$updN,0"),
      Op("refresh", "write", tr => {
        tr.span("streaming.refresh")(gs.refreshMatView("ev_by_kind"))
        () => if (r % 3 == 0) viewMatchesFull() else None
      }),
      expectCsv("SELECT kind, n FROM ev_by_kind", byKind)
    ) ++ (if (r % 3 != 2) Nil else Seq(write("compact") { tr =>
      tr.span("io.compact")(DeltaNative.optimizeCompact(spark, evPath))
      tr.span("io.register")(gs.registerDelta("ev", evPath))
    }, evRead))
  }

  private def tables = Seq(evPath, acctPath)

  def footprint: (Long, Long) =
    (tables.map(p => Workload.filesUnder(p).map(_.length).sum).sum,
      tables.map(DeltaNative.snapshot(spark, _).files.map(_.size).sum).sum)

  override def afterPass(index: Int): Map[String, Any] = {
    val (disk, live) = footprint
    Map(
      "disk_bytes" -> disk,
      "live_bytes" -> live,
      "files_live" -> tables.map(DeltaNative.snapshot(spark, _).files.size).sum,
      "log_commits" -> tables.map(p => Workload.filesUnder(s"$p/_delta_log")
        .count(_.getName.endsWith(".json"))).sum,
      "user_bytes" -> userBytes,
      "rows_appended" -> appended)
  }
}
