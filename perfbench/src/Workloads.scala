package graft.perfbench

import graft.dag._
import graft.nodes._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit, row_number, sum}

/** One timed operation: its kind, delta rows, and the two phases every
  * operation has — the call that changes state (or, in a batch DAG, composes
  * the plan) and the reads that return a result (seconds each, in order). */
final case class OpOut(kind: String, rows: Long, writeS: Double, serves: Seq[Double])

/** Operations over generated inputs. `build` runs from the first fit to
  * the first served result; `op(i)` runs the entry `i` of the inputs' own
  * schedule. */
abstract class Part(val spark: SparkSession, val t: Tracer, val data: String,
                    val state: String) {
  val ctx: Ctx = Ctx(spark)
  def build(): Unit
  def op(i: Int): OpOut
  /** Correctness check after op `i` (None = checked and equal, or nothing to
    * check at `i`); `last` marks the final operation of the run. */
  def check(i: Int, last: Boolean): Option[String]
  def checked: Int
  /** Directories that hold the stored state. */
  def stateRoots: Seq[String]

  /** Drop a DAG run's caches and wait until they are gone, so the removal
    * does not overlap the next operation. */
  protected def release(run: DagRun): Unit = run.persisted.foreach(_.unpersist(true))

  protected def secs(f: => Unit): Double = {
    val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9
  }
  protected def rowsEqual(name: String, got: Seq[Row], want: Seq[Row]): Option[String] = {
    val g = got.map(_.toString).sorted; val w = want.map(_.toString).sorted
    if (g == w) None
    else Some(s"$name: served ${g.size} rows, recompute ${w.size}; first difference " +
      g.zipAll(w, "<none>", "<none>").find { case (a, b) => a != b }.getOrElse(("", "")))
  }
}

/** A closed-loop workload: `warmOps` are the untimed first pass over the
  * workload's own operations, the timed ones follow in rounds. */
abstract class Workload(spark: SparkSession, t: Tracer, data: String, state: String)
    extends Part(spark, t, data, state) {
  def warmOps: Seq[Int]
  def firstTimedOp: Int
  def opCount: Int
  def kindOf(i: Int): String
  /** Schedule entry `i` belongs to this closed-loop round; an untraced run
    * measures whole rounds. */
  def roundOf(i: Int): Int = i
  def extra: Map[String, Any] = Map.empty
}

/** The generator's schedule (`schedule.txt`: one "kind rows ..." line per
  * operation) and its seeded check points (`checks.txt`: one index a line). */
object Plan {
  private def lines(p: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(p)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
  }
  def schedule(data: String): IndexedSeq[(String, Long)] =
    fields(data).map(f => (f(0), f(1).toLong))
  /** Every field of every schedule line. */
  def fields(data: String): IndexedSeq[Array[String]] =
    lines(s"$data/schedule.txt").map(_.split(" ")).toIndexedSeq
  def checks(data: String): Set[Int] = lines(s"$data/checks.txt").map(_.toInt).toSet
}

/** q124's flagship curation DAG, rebuilt from public nodes every iteration
  * and run by `Dag.transform` plus one action. */
final class CurationBatch(spark: SparkSession, t: Tracer, data: String, state: String)
    extends Workload(spark, t, data, state) {
  private val norm = "regexp_replace(lower(trim(text)), '\\s+', ' ')"
  private var first: Seq[Row] = Nil
  private var lastRows: Seq[Row] = Nil
  private var nChecked = 0
  private var oracleColumns: Seq[String] = Nil
  private var oracleRows: Seq[Row] = Nil

  def dag(dir: String): Dag = {
    val d = new Dag("curation")
    val src = d.add(SourceNode.table(dir, "documents"))
    val bench = src >> FilterNode("doc_id < 10").named("bench")
    val corpus = src("result") >> FilterNode("doc_id >= 10").named("corpus0")
    val gated = corpus >> new HeuristicFilterNode(minWords = 40, maxWords = 100000,
      minMeanWordLen = 2.0, maxMeanWordLen = 10.0,
      minAlphaWordFrac = 0.8, minStopwordHits = 1, keepOnly = true).named("quality_gate")
    val en = gated >> new LangIdNode("text").named("lang_id") >>
      FilterNode("pred_lang = 'en'").named("en_gate")
    val ded = d.add(new ExactDedupNode(Seq(s"md5(cast($norm as binary))"), "doc_id").named("exact"))
    en >> ded
    val exact = d.add(JoinNode.using(Seq("doc_id"), joinType = "left_semi").named("exact_join"))
    en("result") >> exact("left")
    ded >> ProjectNode("doc_id").named("exact_ids") >> exact("right")
    val pairs = exact >> new MinHashDedupNode(
      numHashes = 32, bands = 16, shingleN = 3, jaccardThreshold = 0.8).named("minhash_pairs")
    val nd0 = d.add(new DedupSurvivorsNode().named("near_dup_survivors"))
    exact("result") >> nd0("docs"); pairs >> nd0("pairs")
    val nd = nd0 >> new CheckpointNode(eager = false).named("dedup_barrier")
    val cont = d.add(new ContaminationNode(shingleN = 3).named("decontamination"))
    nd >> cont("docs"); bench >> cont("benchmark")
    val cleanIds = cont >> FilterNode("overlap_frac < 0.5").named("overlap_gate") >>
      ProjectNode("doc_id").named("clean_ids")
    val clean = d.add(JoinNode.using(Seq("doc_id"), joinType = "left_semi").named("clean_join"))
    nd("result") >> clean("left"); cleanIds >> clean("right")
    val qual = clean >> new QuantileFilterNode(scoreExpr = "n_chars",
      keepFrac = 0.5, groupCols = Seq("source")).named("quantile_gate") >>
      new CheckpointNode(eager = false).named("quality_barrier")
    val mixed = qual >> new DomainMixNode(Seq("src0" -> 2.0, "src1" -> 0.5)).named("domain_mix") >>
      new WithColumnsNode(Seq("uid" -> "doc_id * 10 + copy")).named("copy_uid")
    mixed >> new TokenCountNode().named("token_count") >>
      new SequencePackNode(idCol = "uid", tokensCol = Some("ws_tokens"),
        seqLen = 256, shards = 8).named("sequence_pack") >>
      new TokenShardNode(idCol = "uid", weightExpr = "ws_tokens",
        budget = 2000L, buckets = 16).named("token_shard") >>
      AggNode(Seq("shard_id"),
        "count(*) as n_docs",
        "cast(sum(ws_tokens) as bigint) as total_tokens",
        "cast(sum(n_seqs) as bigint) as total_seqs",
        "cast(max(copy) as bigint) as max_copy").named("shard_totals") >>
      SortNode("shard_id").named("sort") >>
      d.output("result")
    d
  }

  def build(): Unit = ()
  def warmOps: Seq[Int] = Seq(0)
  def firstTimedOp: Int = 1
  def opCount: Int = Int.MaxValue
  def kindOf(i: Int): String = "batch"
  def op(i: Int): OpOut = {
    var run: DagRun = null
    val w = secs(t.span("dag.transform") {
      val d = dag(data)
      if (t.enabled) d.addListener(t.nodeListener)
      run = d.transform(Ctx(spark))
    })
    val s = secs { lastRows = t.span("spark.action")(run("result").collect().toSeq) }
    release(run)
    OpOut("batch", 0L, w, Seq(s))
  }
  /** Every iteration must equal the first one. After the last, the same DAG
    * runs over the small oracle corpus, whose result perfbench/run.py
    * compares with q124's DuckDB SQL (that SQL compares near-duplicates
    * pairwise, so it cannot check the timed corpus in time). */
  def check(i: Int, last: Boolean): Option[String] =
    if (last) {
      val run = dag(s"$data/check").transform(Ctx(spark))
      oracleColumns = run("result").columns.toSeq
      oracleRows = run("result").collect().toSeq
      release(run)
      None
    } else if (first.isEmpty) { first = lastRows; None }
    else { nChecked += 1; rowsEqual(s"iteration $i", lastRows, first) }
  def checked: Int = nChecked
  def stateRoots: Seq[String] = Nil
  override def extra: Map[String, Any] = Map("q124_sql" -> graft.queries.NorthStar.q124Sql,
    "result_columns" -> oracleColumns, "result_rows" -> oracleRows.map(_.toSeq))
}

/** orders ⋈ customer ⋈ nation maintained as a two-step chained view with a
  * GROUP BY on top, under seeded CDC waves on the facts (published overlays
  * drained by one streaming consumer with one checkpoint) and the customer
  * dimension. The dashboard is served after every wave. */
final class IvmWaves(spark: SparkSession, t: Tracer, data: String, state: String)
    extends Part(spark, t, data, state) {
  private val orders = spark.read.parquet(s"$data/orders.parquet")
  private val customer = spark.read.parquet(s"$data/customer.parquet")
  private val nation = spark.read.parquet(s"$data/nation.parquet")
  private val factWaves = spark.read.parquet(s"$data/fact_waves.parquet")
  private val dimWaves = spark.read.parquet(s"$data/dim_waves.parquet")
  private val root = s"$state/facts_mor"
  private val waves = Plan.schedule(data)
  private val checkWaves = Plan.checks(data)
  private var mj1: MaterializedJoinNode = _
  private var agg: AggIndexNode = _
  private var served: Seq[Row] = Nil
  private var nChecked = 0

  private def serve(): Double = secs(t.span("ivm.serve") {
    val probe = nation.select("n_name")
      .unionByName(spark.range(1).selectExpr("cast(null as string) as n_name"))
    served = agg.transform(ctx, In.single("probe" -> probe))("result")
      .select("n_name", "n_rows", "sum_price_i").collect().toSeq
  })

  def build(): Unit = {
    t.span("store.publish") {
      new SinkNode(root, atomicPublish = true).transform(ctx, In.single("df" -> orders))
    }
    t.span("ivm.fit") {
      mj1 = new MaterializedJoinNode(leftOn = Seq("o_custkey"), rightOn = Seq("c_custkey"),
        leftId = "o_orderkey", rightId = "c_custkey", joinType = "left_outer",
        compactPath = Some(s"$state/mj1"))
      mj1.fit(ctx, In.single(
        "left" -> new MorSourceNode(root, keys = Seq("o_orderkey")).transform(ctx, In.empty)("result"),
        "right" -> customer))
      val mj2 = new MaterializedJoinNode(leftOn = Seq("c_nationkey"), rightOn = Seq("n_nationkey"),
        leftId = "v1_id", rightId = "n_nationkey", joinType = "left_outer",
        compactPath = Some(s"$state/mj2"))
      mj1.chainJoin(ctx, mj2, nation.select("n_nationkey", "n_name"))
      agg = new AggIndexNode(groupCols = Seq("n_name"), sumCols = Seq("price_i"),
        idCol = MaterializedJoinNode.ViewIdCol, compactPath = Some(s"$state/agg"))
      mj2.chainAggregate(ctx, agg)
    }
    serve()
  }

  def op(i: Int): OpOut = {
    val (kind, rows) = waves(i)
    val w = secs(kind match {
      case "fact_upsert" | "fact_delete" =>
        t.span("store.publish") {
          AtomicPublish.publishDelta(spark, root, i + 1L, { tmp =>
            factWaves.filter(col("wave") === i)
              .selectExpr("o_orderkey", "o_custkey", "price_i", s"deleted as ${MorCdc.DeletedCol}")
              .coalesce(1).write.parquet(tmp)
          })
        }
        t.span("store.stream") {
          val tail = new MorTailNode(root, maxFilesPerTrigger = Some(1))
            .transform(ctx, In.empty)("result")
          IndexMaintenance.maintainFromStream(mj1, ctx, tail,
            checkpoint = Some(s"$state/ckpt"), deleteCol = Some(MorCdc.DeletedCol))
        }
      case "dim_upsert" => t.span("ivm.dim_upsert") {
        val d = dimWaves.filter(col("wave") === i)
        mj1.deleteFromRight(ctx, d.select("c_custkey"))
        mj1.updateRight(ctx, d.select("c_custkey", "c_nationkey", "c_mktsegment"))
      }
      case "dim_delete" => t.span("ivm.dim_delete") {
        mj1.deleteFromRight(ctx, dimWaves.filter(col("wave") === i).select("c_custkey"))
      }
    })
    OpOut(kind, rows, w, Seq.fill(IvmWaves.ReadsPerWave)(serve()))
  }

  /** One-shot recompute of the dashboard over the live tables after wave `w`. */
  private def recompute(w: Int): Seq[Row] = {
    def latest(base: DataFrame, waves: DataFrame, key: String): DataFrame = {
      val all = base.withColumn("wave", lit(-1)).withColumn("deleted", lit(false))
        .unionByName(waves.filter(col("wave") <= w))
      all.withColumn("rn", row_number().over(
        Window.partitionBy(key).orderBy(col("wave").desc)))
        .filter(col("rn") === 1 && !col("deleted"))
    }
    latest(orders, factWaves, "o_orderkey")
      .join(latest(customer, dimWaves, "c_custkey"), col("o_custkey") === col("c_custkey"), "left")
      .join(nation, col("c_nationkey") === col("n_nationkey"), "left")
      .groupBy("n_name").agg(count(lit(1)).as("n_rows"), sum("price_i").as("sum_price_i"))
      .collect().toSeq
  }

  def check(i: Int, last: Boolean): Option[String] =
    if (!last && !checkWaves(i)) None
    else {
      nChecked += 1
      rowsEqual(s"dashboard after wave $i", served.filter(_.getLong(1) > 0), recompute(i))
    }
  def checked: Int = nChecked
  def stateRoots: Seq[String] = Seq(root, s"$state/ckpt", s"$state/mj1", s"$state/mj2", s"$state/agg")
}

object IvmWaves {
  /** The dashboard is read this many times after each wave, one read after
    * another; the first read is the wave's freshness point. */
  val ReadsPerWave = 3
}

/** BM25 top-k served from a stored InvertedIndexNode while the index is
  * updated from held-out documents and documents are deleted. The untimed
  * pass (ops 1-4) holds three writes, so the first fold (`compactEvery`)
  * happens there and the first round's two writes fold nothing; later
  * rounds, which traced runs reach, fold again. */
final class IndexServe(spark: SparkSession, t: Tracer, data: String, state: String)
    extends Part(spark, t, data, state) {
  private val docs = spark.read.parquet(s"$data/documents.parquet")
  private val queries = spark.read.parquet(s"$data/queries.parquet")
  private val updates = spark.read.parquet(s"$data/updates.parquet")
  private val deletes = spark.read.parquet(s"$data/deletes.parquet")
  private val ops = Plan.schedule(data)
  private val checkOps = Plan.checks(data)
  private val K = 10
  private val MaxDf = 0.5
  private val idx = new InvertedIndexNode(k = K, maxDfFrac = MaxDf, scoring = "bm25",
    compactEvery = 3, compactPath = Some(s"$state/index"))
  private var served: Seq[Row] = Nil
  private var nChecked = 0

  private def queryBatch(i: Int) = queries.filter(col("op") === i).select("query_id", "text")

  def build(): Unit = {
    t.span("index.fit") {
      idx.fit(ctx, In.single("corpus" -> docs.filter("not held_out").select("doc_id", "text")))
    }
    op(0)
  }
  /** A write op applies its delta and then serves its query batch, so the
    * op's time is the write's freshness. */
  def op(i: Int): OpOut = {
    val (kind, rows) = ops(i)
    val w = secs(kind match {
      case "serve" =>
      case "update" => t.span("index.update") {
        idx.updateIndex(ctx, docs.join(updates.filter(col("op") === i).select("doc_id"),
          Seq("doc_id"), "left_semi").select("doc_id", "text"))
      }
      case "delete" => t.span("index.delete") {
        idx.deleteFromIndex(ctx, deletes.filter(col("op") === i).select("doc_id"))
      }
    })
    val s = secs(t.span("index.serve") {
      served = idx.transform(ctx, In.single("queries" -> queryBatch(i)))("result")
        .select("query_id", "doc_id", "score", "rank").collect().toSeq
    })
    OpOut(kind, rows, if (kind == "serve") 0.0 else w, Seq(s))
  }

  /** One-shot Bm25TopKNode over the live corpus as of op `i`. */
  private def recompute(i: Int): Seq[Row] = {
    val added = updates.filter(col("op") <= i).select("doc_id")
    val gone = deletes.filter(col("op") <= i).select("doc_id")
    val live = docs.filter("not held_out").select("doc_id", "text")
      .unionByName(docs.join(added, Seq("doc_id"), "left_semi").select("doc_id", "text"))
      .join(gone, Seq("doc_id"), "left_anti")
    val d = new Dag("bm25_oracle")
    val n = new Bm25TopKNode(k = K, maxDfFrac = MaxDf)
    d.setInput(n, Some("corpus"), Some("corpus"))
    d.setInput(n, Some("queries"), Some("queries"))
    d.setOutput("result", n)
    val run = d.transform(Ctx(spark), Map("corpus" -> live, "queries" -> queryBatch(i)))
    try run("result").select("query_id", "doc_id", "score", "rank").collect().toSeq
    finally release(run)
  }

  def check(i: Int, last: Boolean): Option[String] =
    if (last || checkOps(i)) {
      nChecked += 1
      rowsEqual(s"top-k of op $i", served, recompute(i))
    } else None
  def checked: Int = nChecked
  def stateRoots: Seq[String] = Seq(s"$state/index")
}

/** The chained view and the stored index side by side, both under change:
  * rounds of one CDC wave through the view (served after it) followed by
  * one block of index operations (top-k serves, updates and deletes). The
  * two keep separate inputs (`ivm/`, `index/`) and state roots; the combined
  * schedule routes each entry to its part's own operation index. The
  * untimed pass is the index's: the view's build already serves the
  * dashboard, and a wave costs 7-10 s, more than the benchmark's budget
  * (48 runs in under an hour) can hold untimed as well, so the first timed
  * wave is the first change after the view's build. */
final class IvmIndex(spark: SparkSession, t: Tracer, data: String, state: String)
    extends Workload(spark, t, data, state) {
  private val ivm = new IvmWaves(spark, t, s"$data/ivm", s"$state/ivm")
  private val index = new IndexServe(spark, t, s"$data/index", s"$state/index")
  /** (kind, part, the part's op index, round) per entry; round -1 is the
    * untimed pass. */
  private val plan = Plan.fields(data).map(f => (f(0), f(2), f(3).toInt, f(4).toInt))
  private val lastOf = scala.collection.mutable.Map.empty[String, Int]

  private def part(i: Int): Part = if (plan(i)._2 == "ivm") ivm else index

  def build(): Unit = { ivm.build(); index.build() }
  def warmOps: Seq[Int] = plan.indices.filter(plan(_)._4 < 0)
  def firstTimedOp: Int = warmOps.size
  def opCount: Int = plan.size
  def kindOf(i: Int): String = plan(i)._1
  override def roundOf(i: Int): Int = plan(i)._4
  def op(i: Int): OpOut = {
    lastOf(plan(i)._2) = plan(i)._3
    part(i).op(plan(i)._3)
  }
  /** Seeded checks go to the part that ran op `i`; after the run's last op
    * both parts are checked against their own last operation. */
  def check(i: Int, last: Boolean): Option[String] =
    if (!last) part(i).check(plan(i)._3, last = false)
    else {
      val r = Seq("ivm" -> ivm, "index" -> index).flatMap { case (name, w) =>
        lastOf.get(name).flatMap(w.check(_, last = true)) }
      if (r.isEmpty) None else Some(r.mkString("; "))
    }
  def checked: Int = ivm.checked + index.checked
  def stateRoots: Seq[String] = ivm.stateRoots ++ index.stateRoots
}
