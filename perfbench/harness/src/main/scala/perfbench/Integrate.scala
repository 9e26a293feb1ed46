package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.json4s._

import graft.catalog.Catalog
import graft.ops.{Merge, Reports}
import graft.queries.SavedQueries
import graft.sources.{ColumnSpec, MappedImport, Tables, Workbooks}

import Harness._

/** The integration operator's session, one step per op: import a workbook
  * through a column mapping into the target table, discover its key and
  * apply a keyed update that lands a new table version (the table grows
  * every step, so the rewrite cost shows), then run ad-hoc SQL over the
  * registered tables — some from the saved-query registry — with a report
  * aggregation on each result whose template defines one. */
object Integrate {
  final case class Stmt(kind: String, name: String, sql: String, report: List[String])

  val importSpecs = Seq(
    ColumnSpec("Order ID", "order_id", Some("bigint")),
    ColumnSpec("Customer", "customer"),
    ColumnSpec("Region", "region"),
    ColumnSpec("Quantity", "qty", Some("int")),
    ColumnSpec("Unit Price", "unit_price", Some("decimal(12,2)")),
    ColumnSpec("Order Date", "order_date", Some("date")),
    ColumnSpec("Notes", "notes"))
  val updateSpecs = Seq(
    ColumnSpec("Order ID", "order_id", Some("bigint")),
    ColumnSpec("Quantity", "qty", Some("int")),
    ColumnSpec("Unit Price", "unit_price", Some("decimal(12,2)")))

  def rowJson(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case other => other
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tr
    implicit val fmt: Formats = DefaultFormats
    val manifest = readJson(s"${ctx.inputs}/manifest.json")
    val cycles = (manifest \ "cycles").children
      .map(c => ((c \ "import").extract[String], (c \ "update").extract[String]))
    val importRows = (manifest \ "import_rows").extract[Long]
    val updateRows = (manifest \ "update_rows").extract[Long]
    val sqlSpec = readJson(s"${ctx.inputs}/steps.json")
    def stmt(o: JValue) = Stmt((o \ "kind").extract[String], (o \ "name").extract[String],
      (o \ "sql").extract[String], (o \ "report").extract[List[String]])
    val steps = (sqlSpec \ "steps").children.map(_.children.map(stmt))
    val warmupSql = (sqlSpec \ "warmup").children.map(stmt)
    val saved = (sqlSpec \ "saved").extract[Map[String, String]]

    // per-layer accumulators over traced steps
    var readNs, readCells, appendFiles, appendBytes, mergeBytes = 0L
    var changedRatio = 0.0
    var planNs, execNs, reportNs = 0L
    var nStmts, nReports = 0

    /** Import + keyed update against table `root`; returns
      * (new version, import ns, update ns). */
    def cycle(root: Path, version: Int, files: (String, String), tableRows: Long,
        traced: Boolean): (Int, Long, Long) = {
      val cur = root.resolve(s"v$version")
      val t0 = System.nanoTime()
      val raw = tr.span("sources.read") {
        Workbooks.readSheet(spark, files._1, Workbooks.listSheets(files._1).head)
      }
      val rNs = System.nanoTime() - t0
      val mapped = MappedImport(raw, importSpecs)
      tr.span("catalog") {
        Catalog.tableDesign(spark,
          if (Files.exists(cur)) spark.read.parquet(cur.toString) else mapped).collect()
      }
      val before = dataFiles(cur).toSet
      tr.span("sources.append") { MappedImport.appendTo(mapped, cur.toString) }
      val added = dataFiles(cur).filterNot(before.contains)
      val addedBytes = added.map(Files.size).sum
      val t1 = System.nanoTime()
      val uraw = tr.span("sources.read") {
        Workbooks.readSheet(spark, files._2, Workbooks.listSheets(files._2).head)
      }
      val uNs = System.nanoTime() - t1
      val target = spark.read.parquet(cur.toString)
      val key = tr.span("catalog") {
        Catalog.primaryKeyCandidates(target, Seq("order_id", "customer"))
      }
      require(key == Seq("order_id"), s"primary key discovery returned $key")
      val next = root.resolve(s"v${version + 1}")
      tr.span("merge") {
        Merge.updateByKey(target, MappedImport(uraw, updateSpecs), key.head)
          .write.parquet(next.toString)
      }
      deleteTree(cur)
      if (traced) {
        readNs += rNs + uNs
        readCells += (importRows + 1) * 8 + (updateRows + 1) * 3
        appendFiles += added.size
        appendBytes += addedBytes
        mergeBytes += dirBytes(next)
        changedRatio += updateRows.toDouble / (tableRows + importRows)
      }
      (version + 1, t1 - t0, System.nanoTime() - t1)
    }

    var registry: SavedQueries = null

    /** One statement and its report; JSON-ready record. */
    def statement(st: Stmt, traced: Boolean): Map[String, Any] = {
      val t0 = System.nanoTime()
      val df: DataFrame = tr.span("sql.plan") {
        val d = if (st.kind == "saved") registry.run(spark, st.name) else spark.sql(st.sql)
        d.queryExecution.executedPlan
        d
      }
      val t1 = System.nanoTime()
      val rows = tr.span("sql.exec") { df.collect() }
      val t2 = System.nanoTime()
      val rep = if (st.report.isEmpty) Array.empty[Row] else tr.span("reports") {
        (if (st.report.head == "group_sum") Reports.groupSum(df, st.report(1), st.report(2))
         else Reports.valueCounts(df, st.report(1))).collect()
      }
      val t3 = System.nanoTime()
      if (traced) {
        planNs += t1 - t0; execNs += t2 - t1; nStmts += 1
        if (st.report.nonEmpty) { reportNs += t3 - t2; nReports += 1 }
      }
      Map("kind" -> st.kind, "name" -> st.name, "sql" -> st.sql, "report" -> st.report,
        "ms" -> (t2 - t0) / 1e6, "report_ms" -> (t3 - t2) / 1e6,
        "rows" -> rows.map(rowJson).toSeq, "report_rows" -> rep.map(rowJson).toSeq)
    }

    // set-up: register the tables, load the saved-query registry, open
    // every workbook of the session
    timeSetup(ctx) { r =>
      Tables.registerAll(spark, s"${ctx.inputs}/tables")
      val path = Paths.get(ctx.work, s"saved_queries_$r.json")
      registry = new SavedQueries(path.toString)
      saved.foreach { case (k, v) => registry.save(k, v) }
      cycles.foreach { case (a, b) => Workbooks.listSheets(a); Workbooks.listSheets(b) }
    }
    setupOnce(ctx) {
      // warm-up: cycles on the workbook pairs past the timed steps,
      // thrown away, and statements (with their reports) of the timed
      // steps' templates with other literals
      val root = Paths.get(ctx.work, "warmup")
      cycles.drop(steps.size).zipWithIndex.foreach { case (c, v) =>
        cycle(root, v, c, v * importRows, traced = false)
      }
      deleteTree(root)
      warmupSql.foreach(statement(_, traced = false))
      settle()
    }

    for (traced <- ctx.phases) {
      tr.active = traced
      val root = Paths.get(ctx.work, if (traced) "orders_traced" else "orders")
      var version = 0
      var rows = 0L
      ctx.beginTimed()
      var i = 0
      while (i < steps.size && ctx.more(i) && ctx.failed == 0) {
        try {
          val c0 = cpuNs()
          val ((v, impNs, updNs, stmts), ns, _) = tr.op("integrate.step") {
            val (v, impNs, updNs) = cycle(root, version, cycles(i), rows, traced)
            (v, impNs, updNs, steps(i).map(statement(_, traced)))
          }
          version = v
          rows += importRows
          ctx.done(Map("kind" -> "step", "ms" -> ns / 1e6, "cpu_ms" -> (cpuNs() - c0) / 1e6,
            "traced" -> traced, "import_ms" -> impNs / 1e6, "update_ms" -> updNs / 1e6,
            "import_rows" -> importRows, "update_rows" -> updateRows, "statements" -> stmts))
        } catch { case e: Throwable => ctx.fail(s"step $i", e) }
        i += 1
      }
      ctx.endTimed()
      ctx.extra ++= Map("final_table" -> root.resolve(s"v$version").toString)
    }
    if (tr.enabled) {
      val n = math.max(tr.tracedOps("integrate.step").size, 1).toDouble
      ctx.layers ++= tr.engineMetrics("integrate.step") ++ Map(
        "sources.read_ms" -> tr.spanNs("sources.read") / 1e6 / n,
        "sources.cells_per_s" -> readCells / math.max(readNs / 1e9, 1e-9),
        "sources.append_ms" -> tr.spanNs("sources.append") / 1e6 / n,
        "sources.files_written" -> appendFiles / n,
        "sources.bytes_written" -> appendBytes / n,
        "catalog.ms" -> tr.spanNs("catalog") / 1e6 / n,
        "catalog.jobs" -> tr.jobsIn("catalog").size / n,
        "merge.ms" -> tr.spanNs("merge") / 1e6 / n,
        "merge.bytes_rewritten" -> mergeBytes / n,
        "merge.rows_changed_ratio" -> changedRatio / n,
        "sql.plan_ms" -> planNs / 1e6 / math.max(nStmts, 1),
        "sql.exec_ms" -> execNs / 1e6 / math.max(nStmts, 1),
        "sql.plan_share" -> planNs.toDouble / math.max(planNs + execNs, 1L),
        "reports.ms" -> reportNs / 1e6 / math.max(nReports, 1))
    }
  }
}
