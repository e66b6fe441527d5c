package jobbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.{ContextLogger, JobContext, JobRunner, Ops, TaskFailure}
import graft.spec._

/** One call of the public runner: the whole manifest, or a `--commands`
  * filtered or dry-run pass over it. */
final case class Pass(commands: Option[Seq[String]], dryrun: Boolean)

/** Order-independent fingerprint of a written output. */
final case class Signature(rows: Long, hash: java.math.BigDecimal)

/** A generated work directory: the job manifest, its inputs, and the metadata
  * that only the benchmark's checks read. */
final class Workload(val dir: Path) {
  val meta: JsonNode = new ObjectMapper().readTree(dir.resolve("meta.json").toFile)
  val name: String = meta.get("workload").asText
  val manifest: String = Files.readString(dir.resolve("job.yml"))
  private val basedir = Some(dir.toString)
  val dataDir: Path = dir.resolve("data")
  val outDir: Path = dataDir.resolve("out")

  def str(k: String): String = meta.get(k).asText
  def strs(k: String): Seq[String] = meta.get(k).elements().asScala.map(_.asText).toSeq
  def in(file: String): String = dataDir.resolve("in").resolve(file).toString
  def outputs: Seq[String] = strs("outputs")
  def sourceRows: Long = meta.get("source_rows").asLong

  /** What one job is: the orchestrate job is a full run, a `--commands` run and
    * a dry run of the same manifest; the data jobs are one full run. */
  val passes: Seq[Pass] =
    if (name == "orchestrate")
      Seq(Pass(None, dryrun = false), Pass(Some(strs("filtered_commands")), dryrun = false),
        Pass(None, dryrun = true))
    else Seq(Pass(None, dryrun = false))

  def parse(): Job = Yaml.jobFromString(manifest, basedir)

  /** The runner's command selection (JobRunner.execute): names or indexes,
    * case-insensitive. */
  def select(job: Job, commands: Option[Seq[String]]): List[Command] = {
    val filter = commands.map(_.flatMap(_.split(",")).map(c => Keys.snake(c.trim)).toSet)
    job.commands.zipWithIndex.collect {
      case (c, i) if filter.forall(f =>
        f.contains(Keys.snake(c.name.getOrElse(""))) || f.contains(i.toString)) => c
    }
  }

  /** Commands one job executes, nested-job commands included. */
  lazy val executedCommands: Int = passes.filterNot(_.dryrun).map { p =>
    select(Placeholders.resolve(parse(), sys.env), p.commands).filterNot(_.skip).map { c =>
      if (c.task != "run-job") 1
      else 1 + Yaml.jobFromFile(Keys.fuzzyGet(c.env, "PATH").get.render).commands.count(!_.skip)
    }.sum
  }.sum

  /** Commands the spec layer validates in one job. */
  lazy val validatedCommands: Int = passes.filterNot(_.dryrun)
    .map(p => select(Placeholders.resolve(parse(), sys.env), p.commands).size).sum

  def clean(): Unit = {
    Files.createDirectories(dataDir)
    Seq(outDir, dataDir.resolve("tmp")).foreach(Workload.deleteTree)
  }

  def outputBytes: Long =
    Seq(outDir, dataDir.resolve("tmp")).map(Workload.treeBytes).sum

  /** One job through the public API, as `graft.cli.Main` runs it. */
  def run(spark: SparkSession, sink: String => Unit): Unit = passes.foreach { p =>
    new JobRunner(spark, sink, Some(new ContextLogger(sink)))
      .execute(parse(), p.commands, p.dryrun)
  }

  /** The same job replayed step by step through each layer's public functions,
    * with a span around every call (JobRunner.execute's order of steps). */
  def runTraced(spark: SparkSession, tr: Tracer, sink: String => Unit): Unit =
    tr.span("job") {
      passes.foreach { p =>
        val job = tr.span("spec.parse")(parse())
        val ctxLog = new ContextLogger(sink)
        val runner = new JobRunner(spark, sink, Some(ctxLog))
        if (p.dryrun) tr.span("exec.dryrun")(runner.execute(job, p.commands, dryrun = true))
        else {
          val out: String => Unit = ctxLog.line
          val resolved = tr.span("spec.resolve")(
            Placeholders.resolve(job, sys.env, w => out(s"WARNING: $w")))
          ctxLog.jobStart(resolved.name)
          val registry = tr.span("spec.discover") {
            val found = Registry.discover(resolved.tasks, w => out(s"WARNING: $w"))
            Ops.taskSpecs.values.foldLeft(found) { (r, t) =>
              if (r.get(t.name).isDefined) r else r.withTask(t)
            }
          }
          val selected = select(resolved, p.commands)
          val errors = tr.span("spec.validate")(selected.flatMap { c =>
            Validation.validate(registry.get(c.task).get, c.env, w => out(s"WARNING: $w"))
          })
          if (errors.nonEmpty) throw SpecError(errors.mkString("; "))
          val ctx = new JobContext(spark, resolved.data, out)
          val n = resolved.commands.size
          selected.zipWithIndex.foreach { case (cmd, i) =>
            if (!cmd.skip) {
              val task = registry.get(cmd.task).get
              val env = Validation.withDefaults(task, cmd.env)
              ctxLog.commandStart(cmd.name, i + 1, n)
              ctxLog.taskStart(cmd.task)
              val rc = tr.span(Workload.spanName(task))(runner.executeTask(task, env, ctx))
              ctxLog.taskEnd(rc)
              ctxLog.commandEnd()
              if (rc != 0) throw TaskFailure(cmd.name.getOrElse(cmd.task), rc)
            }
          }
          ctxLog.jobEnd(resolved.name)
        }
      }
    }

  def signatures(spark: SparkSession): Map[String, Signature] =
    outputs.map(o => o -> Workload.signature(spark.read.parquet(outDir.resolve(o).toString))).toMap

  /** Log lines a job must emit from its subprocess tasks (orchestrate). */
  def expectedEmitLines: Long =
    if (name != "orchestrate") 0L
    else meta.get("emit_lines").asLong *
      (meta.get("emits_run").asLong + strs("filtered_commands").count(_.startsWith("emit-")))

  /** Checks of the exact parts of the written outputs against plain Spark over
    * the generated inputs. Returns the failed checks. */
  def verify(spark: SparkSession): Seq[String] = name match {
    case "curate" => Checks.curate(spark, this)
    case "warehouse" => Checks.warehouse(spark, this)
    case "orchestrate" => Checks.orchestrate(spark, this)
  }
}

object Workload {
  private val viewOps = Set("read-parquet", "read-csv", "read-json", "read-text", "filter",
    "select", "sql", "text-quality", "dedup-exact", "minhash-dedup", "similarity-topk",
    "asof-join", "profile", "media-frames")
  private val actionOps = Set("write-parquet", "write-csv", "show", "dq-check")

  def spanName(task: Task): String = task.body match {
    case TaskBody.SparkOp(op) if viewOps(op) => "exec.view_op"
    case TaskBody.SparkOp(op) if actionOps(op) => "exec.action_op"
    case TaskBody.SparkOp(_) => "exec.nested_job"
    case _ => "exec.subprocess"
  }

  def signature(df: DataFrame): Signature = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    Signature(r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** Independent plain-Spark recomputations of the exact parts of each job. */
object Checks {
  private def check(errs: collection.mutable.Buffer[String], ok: Boolean, what: => String) =
    if (!ok) errs += what

  /** Same token rule as the pipeline's text features, written in plain SQL. */
  private def tokens(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  def curate(spark: SparkSession, w: Workload): Seq[String] = {
    val errs = collection.mutable.ArrayBuffer.empty[String]
    val docs = spark.read.parquet(w.in("documents.parquet"))
    val kept = docs
      .withColumn("n_tokens", size(tokens(col("text"))))
      .withColumn("digit_ratio",
        regexp_count(col("text"), lit("\\p{N}")).cast("double") /
          greatest(length(col("text")), lit(1)))
      .filter(w.str("predicate"))
    val exact = kept.groupBy("text").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text").cache()
    val out = spark.read.parquet(w.outDir.resolve("curated").toString)
      .select("doc_id", "text").cache()
    check(errs, out.join(exact, Seq("doc_id"), "left_anti").isEmpty,
      "curated rows outside filter + exact dedup")
    check(errs, out.select("text").distinct().count() == out.count(),
      "curated output keeps exact duplicate texts")
    // every near-dup removal is justified by a lower id of the same family
    // whose 3-shingle Jaccard reaches the threshold
    val fam = spark.read.parquet(w.dir.resolve("truth").resolve("families.parquet").toString)
    val shingles = expr("array_distinct(transform(sequence(0, size(t) - 3), " +
      "i -> concat_ws(' ', slice(t, i + 1, 3))))")
    val sh = exact.join(fam, "doc_id").withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= 3).select(col("doc_id"), col("family"), shingles.as("s"))
    val removed = exact.join(out, Seq("doc_id"), "left_anti").select("doc_id")
    val a = sh.join(removed, "doc_id")
      .select(col("doc_id").as("r"), col("family"), col("s").as("sr"))
    val b = sh.select(col("doc_id").as("d"), col("family"), col("s").as("sd"))
    val best = a.join(b, "family").filter(col("d") < col("r"))
      .withColumn("j", size(array_intersect(col("sr"), col("sd"))).cast("double") /
        size(array_union(col("sr"), col("sd"))))
      .groupBy("r").agg(max("j").as("j"))
    val justified = best.filter(col("j") >= w.meta.get("min_jaccard").asDouble).count()
    check(errs, justified == removed.count(),
      s"near-dup removals without a same-family Jaccard match: ${removed.count() - justified}")
    val knn = spark.read.parquet(w.outDir.resolve("knn").toString)
    val k = w.meta.get("knn_k").asInt
    check(errs, knn.filter(col("rank") < 1 || col("rank") > k || col("qid") === col("vid") ||
      abs(col("cosine")) > 1.0001).isEmpty, "knn rows out of range")
    exact.unpersist(); out.unpersist()
    errs.toSeq
  }

  def warehouse(spark: SparkSession, w: Workload): Seq[String] = {
    val errs = collection.mutable.ArrayBuffer.empty[String]
    val li = spark.read.parquet(w.in("lineitem.parquet"))
    val od = spark.read.parquet(w.in("orders.parquet"))
    val fact = li.join(od.select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
      "o_orderpriority"), col("l_orderkey") === col("o_orderkey")).drop("o_orderkey")
    val factOut = spark.read.parquet(w.outDir.resolve("fact").toString)
    check(errs,
      Workload.signature(fact) == Workload.signature(factOut.select(fact.columns.map(col): _*)),
      "fact differs from the plain join")
    val dec = (c: String, t: String) => col(c).cast(t)
    val disc =
      dec("l_extendedprice", "decimal(15,2)") * (lit(1) - dec("l_discount", "decimal(4,2)"))
    val pricing = fact.filter(col("l_shipdate") <= to_date(lit(w.str("cutoff"))))
      .groupBy("l_returnflag", "l_linestatus", "o_orderpriority")
      .agg(count(lit(1)).as("n_lines"), sum(dec("l_quantity", "decimal(12,2)")).as("sum_qty"),
        sum(dec("l_extendedprice", "decimal(15,2)")).as("sum_base"), sum(disc).as("sum_disc_price"))
    def rows(df: DataFrame, cols: Seq[String]) =
      df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val got = spark.read.parquet(w.outDir.resolve("pricing").toString)
    check(errs, rows(got, pricing.columns.toSeq) == rows(pricing, pricing.columns.toSeq),
      "pricing aggregates differ")
    val ev = spark.read.parquet(w.in("events.parquet"))
    val acts = ev.filter(col("event_type") =!= "view")
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t0"))
    val matched = acts.join(firstView, "user_id").filter(col("t0") <= col("ts")).count()
    val asof = spark.read.parquet(w.outDir.resolve("asof").toString)
    check(errs, asof.count() == acts.count(), "as-of row count differs")
    check(errs, asof.filter(col("v_event_id").isNotNull).count() == matched,
      "as-of matched row count differs")
    val prof = spark.read.parquet(w.outDir.resolve("profile").toString)
    check(errs, prof.filter(col("n_rows") =!= od.count()).isEmpty && prof.count() == 2,
      "profile row counts differ")
    errs.toSeq
  }

  def orchestrate(spark: SparkSession, w: Workload): Seq[String] = {
    val errs = collection.mutable.ArrayBuffer.empty[String]
    val items = spark.read.parquet(w.in("items.parquet"))
    val chain = spark.read.parquet(w.outDir.resolve("chain").toString)
    check(errs,
      Workload.signature(items.filter(w.str("chain_predicate"))) == Workload.signature(chain),
      "chain output differs from its combined predicate")
    val nested = items.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("val").cast("decimal(12,2)")).as("total"))
    val got = spark.read.parquet(w.outDir.resolve("nested").toString)
    check(errs, Workload.signature(nested) == Workload.signature(got.select("grp", "n", "total")),
      "nested job output differs")
    errs.toSeq
  }
}
