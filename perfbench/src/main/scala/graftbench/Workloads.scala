package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import graft.chsql.{ChDdl, ChSql}
import graft.functions.LineageExtractor
import graft.model.MermaidOptions
import graft.operators.{DependencyGraph, LineagePipeline}
import graft.render.Mermaid
import graft.sources.CatalogSource

/** One statement of the generated `ch_session` stream. */
final case class Stmt(i: Int, kind: String, tpl: String, sql: String,
    table: Option[String], tablesAfter: Set[String])

object Stmt {
  private val mapper = new ObjectMapper()
  def readAll(path: String): Seq[Stmt] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val n: JsonNode = mapper.readTree(l)
      val after = Option(n.get("tables_after")).toSeq
        .flatMap(_.elements().asScala.map(_.asText())).toSet
      // the scratch table a write or read-back touches
      val table = Option(n.get("op")).map(_.get("table"))
        .orElse(Option(n.get("table"))).map(_.asText)
      Stmt(n.get("i").asInt, n.get("kind").asText, n.get("tpl").asText,
        n.get("sql").asText, table, after)
    }.toSeq
}

/** A seeded stream of CH-SQL statements: SELECTs over the generated
  * TPC-H-shaped tables through `ChSql.sql` and the full-row materializer,
  * with writes on scratch MergeTree-family tables through
  * `ChSql.statement`, each followed by a read-back SELECT. */
final class ChSessionWorkload(dir: String) extends Workload {
  // statements differ in cost by template: enough of them for a steady
  // median
  override val minOps = 36
  private val stmts = Stmt.readAll(s"$dir/statements.jsonl")
  private val warm = Stmt.readAll(s"$dir/warmup.jsonl")
  private val base = Seq("region", "nation", "customer", "orders", "lineitem")
  private val schemas = mutable.Map.empty[String, StructType]
  private val executed = mutable.ArrayBuffer.empty[Stmt]
  // results as the timed runs returned them: the first run of each
  // distinct SELECT text, and every read-back
  private val selects = mutable.Map.empty[String, (Int, Map[String, Any])]
  private val readbacks = mutable.ArrayBuffer.empty[(Int, Map[String, Any])]
  // write accounting (traced run): files and bytes each traced write added
  // to the warehouse, and the rows each traced INSERT added
  private var files = Map.empty[String, (Long, Long)]
  private val rowCount = mutable.Map.empty[String, Long]
  private var bytesWritten, filesWritten, logicalBytes = 0L

  private def resolve(h: Harness)(n: String): DataFrame =
    if (h.spark.catalog.tableExists(n)) ChDdl.readTable(h.spark, n)
    else {
      val p = s"$dir/$n.parquet"
      val sch = schemas.getOrElseUpdate(p, h.spark.read.parquet(p).schema)
      h.spark.read.schema(sch).parquet(p)
    }

  private def select(h: Harness, sql: String): Materialized = {
    if (h.tracer.enabled) h.span("chsql.parse")(
      try ChSql.referencedTables(sql) catch { case _: Exception => Nil })
    val df = h.span("chsql.build")(ChSql.sql(h.spark, sql)(resolve(h)))
    h.materialize(df)
  }

  def setup(h: Harness): Unit = {
    schemas.clear()
    base.foreach(t => resolve(h)(t).count())
    warm.foreach(s => select(h, s.sql))
  }

  private def warehouseFiles(h: Harness): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(h.warehouse.toFile).map(f =>
      f.getPath -> (f.length, f.lastModified)).toMap
  }

  /** Row width used for the logical size of inserted rows: 8 bytes per
    * numeric column, the UTF-8 length of the one-letter flag. */
  private def rowBytes(table: String): Long =
    if (table == "scratch_part") 8 + 8 + 1 else 8 + 8 + 8

  /** After every write of a traced run; the totals count traced writes
    * only, the snapshots follow every write. */
  private def accountWrite(h: Harness, s: Stmt, counted: Boolean): Unit = {
    val now = warehouseFiles(h)
    val added = now.filter { case (p, v) => files.get(p) != Some(v) }
      .filter { case (p, _) => p.endsWith(".parquet") }
    files = now
    val t = s.table.get
    val before = rowCount.getOrElse(t, 0L)
    if (s.tablesAfter.contains(t))
      rowCount(t) = ChDdl.readTable(h.spark, t).count()
    else rowCount.remove(t)
    if (counted) {
      bytesWritten += added.values.map(_._1).sum
      filesWritten += added.size
      if (s.tpl.startsWith("insert"))
        logicalBytes += math.max(0L, rowCount.getOrElse(t, 0L) - before) *
          rowBytes(t)
    }
  }

  def ops(h: Harness): Iterator[Op] = {
    files = warehouseFiles(h)
    stmts.iterator.map { s =>
      executed += s
      s.kind match {
        case "write" => Op(s.i, "write", s.tpl,
          // a statement parses, builds and runs its jobs in one call:
          // the whole call is execution
          run = () => h.span("chsql.statement")(h.span(Tracer.ExecSpan)(
            ChSql.statement(h.spark, s.sql)(resolve(h)))),
          after = () =>
            if (h.args.trace) accountWrite(h, s, h.tracer.enabled),
          expectedTables = s.tablesAfter)
        case "readback" =>
          var m: Materialized = null
          Op(s.i, "select", s.tpl, run = () => m = select(h, s.sql),
            after = () => readbacks += s.i -> h.decode(m),
            expectedTables = s.tablesAfter)
        case _ =>
          var m: Materialized = null
          Op(s.i, "select", s.tpl, run = () => m = select(h, s.sql),
            after = () => if (!selects.contains(s.sql))
              selects(s.sql) = s.i -> h.decode(m),
            expectedTables = s.tablesAfter)
      }
    }
  }

  def outputs(h: Harness): Seq[(String, Any)] = {
    val tables = h.spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("scratch_")).sorted
    val finals = tables.map { t =>
      val df = ChDdl.readTable(h.spark, t)
      t -> Json.rows(df.columns.toSeq,
        df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq)
    }.toMap
    Seq("executed" -> executed.map(_.i).toSeq,
      "selects" -> selects.values.map { case (i, r) => i.toString -> r }.toMap,
      "readbacks" -> readbacks.map { case (i, r) => i.toString -> r }.toMap,
      "final_tables" -> finals)
  }

  override def layerMetrics(h: Harness): Seq[(String, Double)] = {
    val tr = h.tracer
    val nSel = math.max(1, tr.spans.count(_.name == "chsql.build")).toDouble
    val nW = math.max(1, tr.spans.count(_.name == "chsql.statement")).toDouble
    Seq(
      "chsql.parse_ms" -> tr.totalMs("chsql.parse") / nSel,
      "chsql.build_ms" -> tr.totalMs("chsql.build") / nSel,
      "chsql.statement_ms" -> tr.totalMs("chsql.statement") / nW,
      "write.bytes_written" -> bytesWritten.toDouble,
      "write.files_written" -> filesWritten.toDouble,
      "write.logical_bytes" -> logicalBytes.toDouble,
      "write.amplification" ->
        (if (logicalBytes > 0) bytesWritten.toDouble / logicalBytes else 0.0))
  }
}

/** The reference's own job at catalog size: a generated catalog snapshot
  * through the graft.Main path (read → lineage → Mermaid), then the exact
  * lineage tier, the dependency-graph operators and a full render. */
final class LineageWorkload(dir: String) extends Workload {
  private val snap = s"$dir/catalog.parquet"
  private var last: Map[String, Any] = Map.empty

  /** Registration reads the snapshot once; warm-up runs the whole
    * analysis on a small catalog of the same depth, so every timed
    * analysis runs warm (the first one in a session would otherwise pay
    * code generation and JIT, and whether a second one fits in a run
    * would depend on the host's speed). */
  def setup(h: Harness): Unit = {
    CatalogSource.readParquet(h.spark, snap).count()
    analyze(h,
      CatalogSource.readParquet(h.spark, s"$dir/warmup/catalog.parquet"))
  }

  private def analyze(h: Harness, catalog0: => DataFrame): Map[String, Any] = {
    def build[T](body: => T): T = h.span("frontend.build")(body)
    val cat = h.span("catalog_source.read")(build(catalog0))
    // toMermaid builds and runs its jobs in one call: execution
    val mermaid = h.span("lineage_pipeline.to_mermaid")(
      h.span(Tracer.ExecSpan)(LineagePipeline.toMermaid(cat)))
    val exact = h.span("lineage_pipeline.exact")(h.collect(
      build(LineagePipeline.lineageExact(CatalogSource.views(cat)))))
    val (deps, errs) = build(LineagePipeline.dependencies(cat))
    val viewDeps = h.span("lineage_pipeline.deps")(
      h.collect(build(deps.orderBy("view"))))
      .map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toSeq
    val errors = h.span("lineage_pipeline.errors")(
      h.collect(build(errs.orderBy("view"))))
    val (edges, nodes, tables) = build((
      DependencyGraph.dedupEdges(DependencyGraph.edges(deps))
        .select("src", "dst"),
      DependencyGraph.nodes(deps),
      CatalogSource.tables(cat)
        .select(concat_ws(".", col("database"), col("name")).as("id"))))
    val classes = h.span("dependency_graph.classify")(
      h.collect(build(DependencyGraph.classify(nodes, tables))))
    val isolated = h.span("dependency_graph.isolated")(
      h.collect(build(DependencyGraph.isolated(nodes, edges))))
    val closurePairs = h.span("dependency_graph.closure") {
      val c = build(DependencyGraph.transitiveClosure(edges))
      h.span(Tracer.ExecSpan)(c.count())
    }
    val levels = h.span("dependency_graph.levels")(
      h.collect(build(DependencyGraph.refreshLevels(nodes, edges))))
    val tableSet = classes.filter(_.getString(1) == "chTable")
      .map(_.getString(0)).toSet
    val full = h.span("mermaid.render")(Mermaid.render(viewDeps, tableSet,
      MermaidOptions(includeIsolatedNodes = true)))
    Map("mermaid" -> mermaid, "exact" -> exact.toSeq,
      "view_deps" -> viewDeps.map { case (v, d) => Seq(v, d) },
      "errors" -> errors.toSeq, "classes" -> classes.toSeq,
      "isolated" -> isolated.map(_.getString(0)).toSeq,
      "closure_pairs" -> closurePairs, "levels" -> levels.toSeq,
      "full_mermaid_bytes" -> full.getBytes("UTF-8").length.toLong,
      "full_mermaid_edges" -> full.split("\n").count(_.contains(" -.-> ")))
  }

  def ops(h: Harness): Iterator[Op] = Iterator.from(0).map { i =>
    Op(i, "analysis", "catalog",
      run = () => last = analyze(h, CatalogSource.readParquet(h.spark, snap)))
  }

  def outputs(h: Harness): Seq[(String, Any)] = Seq("lineage" -> last)

  override def layerMetrics(h: Harness): Seq[(String, Double)] = {
    val tr = h.tracer
    val n = math.max(1, tr.spans.count(_.name == "op.analysis")).toDouble
    // single-threaded passes over every view's DDL, in this process
    val views = CatalogSource.views(CatalogSource.readParquet(h.spark, snap))
      .select("database", "create_table_query").collect()
      .map(r => (r.getString(1), r.getString(0)))
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (heur, heurS) = timed(views.map { case (ddl, db) =>
      LineageExtractor.extract(Option(ddl).getOrElse(""), Option(db)) })
    val (ex, exS) = timed(views.map { case (ddl, db) =>
      LineageExtractor.extractExact(Option(ddl).getOrElse(""), Option(db)) })
    val bodies = views.flatMap { case (ddl, _) =>
      Option(ddl).flatMap(d => "(?is)\\bAS\\s+((?:SELECT|WITH)\\b.*)$".r
        .findFirstMatchIn(d).map(_.group(1)))
    }
    val (_, parseS) = timed(bodies.foreach(b =>
      try ChSql.referencedTables(b) catch { case _: Exception => Nil }))
    val dgBuild = h.listener.sum((_, p) => p.contains("dependency_graph") &&
      Tracer.inBuild(p))
    Seq(
      "chsql.parse_ms" -> parseS * 1000,
      "lineage_extractor.views_per_s" -> views.length / heurS,
      "lineage_extractor.exact_views_per_s" -> views.length / exS,
      "lineage_extractor.exact_share" ->
        ex.count(_._2 == "exact").toDouble / views.length,
      "lineage_extractor.errors" -> heur.count(_._2.isDefined).toDouble,
      "catalog_source.read_ms" -> tr.totalMs("catalog_source.read") / n,
      "lineage_pipeline.ms" -> tr.totalMs("lineage_pipeline.to_mermaid") / n,
      "dependency_graph.closure_ms" -> tr.totalMs("dependency_graph.closure") / n,
      "dependency_graph.levels_ms" -> tr.totalMs("dependency_graph.levels") / n,
      "dependency_graph.closure_pairs" ->
        last.getOrElse("closure_pairs", 0L).asInstanceOf[Long].toDouble,
      "dependency_graph.build_jobs" -> dgBuild.jobs / n,
      "mermaid.render_ms" -> tr.totalMs("mermaid.render") / n,
      "mermaid.bytes" ->
        last.getOrElse("full_mermaid_bytes", 0L).asInstanceOf[Long].toDouble)
  }
}

/** Three curation pipelines of the repo's query registry over a generated
  * `documents` corpus, each built through `SparkEntry.queries` and run
  * through the full-row materializer. */
final class CurationWorkload(dir: String) extends Workload {
  val pipelines = Seq("p1_training_pipeline", "p4_curation_pipeline",
    "p4b_curation_substring")

  // a pass is long and few fit in a run: the median of four keeps one
  // slow pass (the first pays what warm-up left cold) out of the figure
  override val minOps = 4

  // the rows of the latest pass, which the checks compare
  private var last = Map.empty[String, Materialized]

  private def pass(h: Harness): Unit = last = pipelines.map { p =>
    h.span(s"curation.$p") {
      val df = h.span("curation.build")(SparkEntry.queries(p)(h.spark, dir))
      p -> h.materialize(df)
    }
  }.toMap

  /** Registration reads the corpus once; warm-up builds and plans the
    * three pipelines over a small corpus without running them. */
  def setup(h: Harness): Unit = {
    h.spark.read.parquet(s"$dir/documents.parquet").count()
    pipelines.foreach(p => SparkEntry.queries(p)(h.spark, s"$dir/warmup")
      .queryExecution.executedPlan)
  }

  def ops(h: Harness): Iterator[Op] = Iterator.from(0).map { i =>
    Op(i, "pass", "pass", run = () => pass(h))
  }

  def outputs(h: Harness): Seq[(String, Any)] = Seq(
    "pipelines" -> last.map { case (p, m) => p -> h.decode(m) },
    "oracles" -> pipelines.map(p => p -> SparkEntry.oracleSql(p)).toMap)

  override def layerMetrics(h: Harness): Seq[(String, Double)] = {
    val tr = h.tracer
    val n = math.max(1, tr.spans.count(_.name == "op.pass")).toDouble
    pipelines.flatMap { p =>
      val key = s"curation.$p"
      val c = h.listener.sum((_, path) => path.contains(key))
      val cb = h.listener.sum((_, path) => path.contains(key) &&
        Tracer.inBuild(path))
      val byParent = tr.spans.filter(_.name == key).map(_.id).toSet
      def childMs(name: String) = tr.spans
        .filter(s => s.name == name && byParent.contains(s.parent))
        .map(s => s.end - s.start).sum / 1e6 / n
      val short = p.takeWhile(_ != '_')
      Seq(
        s"curation.$short.build_ms" ->
          math.max(0.0, childMs("curation.build") - cb.jobMs / n),
        s"curation.$short.run_ms" ->
          (childMs("catalyst.plan") + childMs(Tracer.ExecSpan)),
        s"curation.$short.jobs" -> c.jobs / n,
        s"curation.$short.build_jobs" -> cb.jobs / n,
        s"curation.$short.task_cpu_ms" -> c.cpuNs / 1e6 / n,
        s"curation.$short.shuffle_bytes" ->
          (c.shuffleRead + c.shuffleWrite) / n,
        s"curation.$short.spill_bytes" -> c.spill / n)
    }
  }
}
