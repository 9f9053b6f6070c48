package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Dialect, Engine, Sources, Tables, TpchQueries}
import graft.llm.{Dedup, Mixing, TextAnalysis}

object Inputs {
  private val mapper = new ObjectMapper()
  def read(path: String): JsonNode = mapper.readTree(Paths.get(path).toFile)
  def lines(path: String): Seq[JsonNode] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.nonEmpty).map(mapper.readTree)

  val tpchTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem")
  def tables(spark: SparkSession, dir: String): Map[String, DataFrame] =
    tpchTables.map(n => n -> Tables.load(spark, dir, n)).toMap

  def json(rows: Array[Row]): Seq[String] = rows.toSeq.map(_.json)
}

/** A query through the public entry point: `Engine.execute` to a lazy
  * DataFrame, then `collect` to a complete result. When traced, the
  * dialect rewrite is also timed on its own, and the Catalyst phases are
  * read back from the query's planning tracker.
  */
object SqlOp {
  def run(ctx: Ctx, sql: String, dialect: Dialect,
      tables: Map[String, DataFrame], keepRows: Boolean): Option[Seq[String]] = {
    val t = ctx.tracer
    if (t.enabled) t.span("Dialect.rewrite")(dialect.rewrite(ctx.spark, sql))
    val df = t.span("Engine.execute") {
      val d = Engine.execute(ctx.spark, sql, tables, dialect)
      t.phases(d, Seq("parsing" -> "catalyst.parse", "analysis" -> "catalyst.analyze"))
      d
    }
    val rows = t.span("exec.action") {
      val r = df.collect()
      t.phases(df, Seq("optimization" -> "catalyst.optimize", "planning" -> "catalyst.plan"))
      r
    }
    if (keepRows) Some(Inputs.json(rows)) else None
  }
}

/** Seeded stream of short multi-dialect queries over the small tables. */
final class AdhocSql(inputDir: String, dataDir: String) extends Workload {
  private val queries = Inputs.lines(s"$inputDir/queries.jsonl")
  private val byPass = queries.groupBy(_.get("pass").asInt)
  private var tables: Map[String, DataFrame] = Map.empty

  def load(spark: SparkSession): Unit = tables = Inputs.tables(spark, dataDir)

  /** One pass of warm-up queries, so that the timed passes meet a JIT-warm
    * engine, as a service past its first queries would.
    */
  def warmup(spark: SparkSession): Unit =
    byPass(-1).foreach { q =>
      Engine.execute(spark, q.get("sql").asText, tables,
        Dialect.forName(q.get("dialect").asText)).collect()
    }

  def pass(p: Int, ctx: Ctx): Unit =
    byPass(p).foreach { q =>
      val traced = ctx.trace && (q.get("tidx").asInt + p) % 2 == 1
      ctx.op(p, s"${q.get("template").asText}#${q.get("index").asInt}", traced) {
        SqlOp.run(ctx, q.get("sql").asText, Dialect.forName(q.get("dialect").asText),
          tables, keepRows = q.get("check").asBoolean)
      }
    }
}

/** The engine's 22 TPC-H query texts in the Spark dialect, in a seeded
  * order per pass. Results of the first pass are kept for the oracle check.
  */
final class Tpch(inputDir: String, dataDir: String) extends Workload {
  private val order = Inputs.read(s"$inputDir/order.json").elements.asScala
    .map(_.elements.asScala.map(_.asInt).toSeq).toIndexedSeq
  private var tables: Map[String, DataFrame] = Map.empty

  def load(spark: SparkSession): Unit = tables = Inputs.tables(spark, dataDir)

  def warmup(spark: SparkSession): Unit =
    Engine.execute(spark, TpchQueries.q6.spark, tables).collect()

  def pass(p: Int, ctx: Ctx): Unit =
    order(p).foreach { n =>
      val q = TpchQueries.all(n - 1)
      ctx.op(p, q.name, ctx.trace && (n + p) % 2 == 1) {
        SqlOp.run(ctx, q.spark, Dialect.Spark, tables, keepRows = p == 0)
      }
    }

  override def facts: Map[String, Any] =
    Map("oracles" -> TpchQueries.all.map(q => q.name -> q.oracle.orNull).toMap)
}

/** One corpus-curation pipeline per pass, stage by stage through the
  * library: normalize, quality score, exact dedup, MinHash dedup, BPE
  * merge learning, shuffle into shards, parquet write, read-back. Each
  * stage's output is persisted and materialized by the stage's own
  * action, so every stage is timed as one call through a complete result.
  */
final class LlmCurate(inputDir: String, workDir: String) extends Workload {
  private var corpus: DataFrame = _
  val shards = 8
  val bpeRounds = 8

  def load(spark: SparkSession): Unit =
    corpus = Sources.parquet(spark, s"$inputDir/corpus.parquet")

  /** One pipeline pass over a third of the corpus, so the timed passes
    * meet the warm codegen and JIT state of a curation service past its
    * first corpus, and a pass time is not dominated by one-off compilation.
    */
  def warmup(spark: SparkSession): Unit = {
    val ctx = new Ctx(spark, new Tracer(spark, null), false)
    pipeline(ctx, -1, corpus.where(col("doc_id") < 800), s"$workDir/shards", _ => false)
  }

  /** Stages alternate between traced and untraced from pass to pass. */
  def pass(p: Int, ctx: Ctx): Unit =
    pipeline(ctx, p, corpus, s"$workDir/shards", i => ctx.trace && (i + p) % 2 == 1)

  private def pipeline(ctx: Ctx, p: Int, docs: DataFrame, outDir: String,
      traced: Int => Boolean): Unit = {
    val t = ctx.tracer
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var facts = Map[String, Any]("pass" -> p)
    // one stage: construct the library call's frame, then run its action
    var index = 0
    def stage[A](name: String, construct: => DataFrame)(action: DataFrame => A): Option[A] = {
      var out: Option[A] = None
      index += 1
      ctx.op(p, name, traced(index - 1), grouped = false) {
        val df = t.span(s"$name.construct")(t.group(s"${ctx.ops.length}/construct")(construct))
        out = Some(t.span(s"$name.action")(t.group(s"${ctx.ops.length}/action")(action(df))))
        None
      }
      out
    }
    def persist(df: DataFrame): DataFrame = { val c = df.persist(); cached += c; c }
    def ids(df: DataFrame): Seq[Long] = df.select("doc_id").collect().map(_.getLong(0)).toSeq

    try {
      val norm = stage("llm.TextAnalysis.normalizeText",
        TextAnalysis.normalizeText(docs, "text")) { df => val c = persist(df); c.count(); c }
      val scored = norm.flatMap(n => stage("llm.TextAnalysis.qualityScore",
        TextAnalysis.qualityScore(n, "norm_text")) { df => val c = persist(df); c.count(); c })
      val exact = scored.flatMap(s => stage("llm.Dedup.exactDedup",
        Dedup.exactDedup(s, "doc_id", "norm_text")) { df =>
          val c = persist(df)
          facts += "exact_flagged" -> ids(c.where(col("is_dup")))
          c.where(!col("is_dup")).drop("h", "keep_id", "n_copies", "is_dup")
        })
      val near = exact.flatMap(e => stage("llm.Dedup.minHashDedup",
        Dedup.minHashDedup(e.select(col("doc_id"), col("norm_text").as("text")))) { df =>
          val c = persist(df)
          facts += "near_flagged" -> ids(c.where(col("is_dup")))
          val kept = persist(e.join(c.where(!col("is_dup")).select("doc_id"),
            Seq("doc_id"), "left_semi"))
          kept.count()
          kept
        })
      near.foreach(s => stage("llm.TextAnalysis.bpeLearnMerges",
        TextAnalysis.bpeLearnMerges(s, bpeRounds, "norm_text")) { df =>
          facts += "bpe_merges" -> df.collect().length
        })
      val sharded = near.flatMap(s => stage("llm.Mixing.shuffleShard",
        Mixing.shuffleShard(s.select("doc_id", "norm_text", "quality", "lang", "source"),
          shards)) { df =>
          val c = persist(df)
          facts += "survivors" -> ids(c)
          c
        })
      sharded.foreach { s =>
        ctx.op(p, "Sources.writeParquet", traced(index)) {
          t.span("Sources.write")(Sources.writeParquet(s, outDir, Seq("shard")))
          val walk = Files.walk(Paths.get(outDir))
          val files =
            try walk.iterator.asScala.filter(_.toString.endsWith(".parquet")).toList
            finally walk.close()
          facts += "files_written" -> files.length
          facts += "bytes_written" -> files.map(f => Files.size(f)).sum
          None
        }
        ctx.op(p, "Sources.parquet", traced(index + 1)) {
          facts += "read_back" -> t.span("Sources.read")(ids(Sources.parquet(ctx.spark, outDir)))
          None
        }
      }
    } finally cached.foreach(_.unpersist())
    if (p >= 0) ctx.checks += facts
  }
}
