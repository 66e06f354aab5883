package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, ExprId, Expression, Literal, NamedExpression}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec, HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark process, filled by [[TraceListener]]
  * and [[TraceQueryListener]] and by the harness's own spans around each
  * public entry point it calls. Nothing is written until the run ends.
  *
  * Every record carries the run id of the timed iteration it belongs to;
  * events arriving while [[runId]] is negative (warm-up) are dropped. The
  * harness drains the listener bus before it moves to the next run id.
  */
object Trace {
  @volatile var runId: Int = -1

  final case class Span(name: String, start: Long, end: Long, parent: String, run: Int)
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var shuffleWrite = 0L; var spill = 0L
    var gcMs = 0L; var first = Long.MaxValue; var last = 0L
  }
  final case class SqlExec(run: Int, id: Long, root: Long, phase: String, start: Long)
  /** What one executed physical node tells the attribution: its layer
    * (if the node defines attributes a layer owns) and its depth below
    * the plan root (smaller = further downstream). */
  final case class NodeTag(layer: Option[String], depth: Int, name: String)

  val spans = mutable.ArrayBuffer[Span]()
  val stageAgg = mutable.Map[(Int, Int), StageAgg]()          // (run, stage)
  val stageAccums = mutable.Map[(Int, Int), Set[Long]]()
  val jobs = mutable.Map[Int, Int]()                          // run -> jobs started
  val sqlExecs = mutable.Map[(Int, Long), SqlExec]()
  val sqlEnds = mutable.Map[(Int, Long), Long]()
  val accumTags = mutable.Map[Long, NodeTag]()                // accumulator id -> node
  val scanAccums = mutable.Set[Long]()
  /** (run, counter) -> accumulator id -> value: a node seen in several
    * plans (a cached relation, a reused exchange) counts once. */
  val metricValues = mutable.Map[(Int, String), mutable.Map[Long, Long]]()
  val contextReady = mutable.Map[Int, Long]()                // run -> listener constructed
  val appEnd = mutable.Map[Int, Long]()                      // run -> stop() called
  val cachedBytes = mutable.Map[(Int, String), Long]()        // live RDD blocks
  val peakCached = mutable.Map[Int, Long]()

  def metric(run: Int, key: String, id: Long, v: Long): Unit =
    if (run >= 0) synchronized {
      metricValues.getOrElseUpdate((run, key), mutable.Map[Long, Long]())(id) = v
    }

  def metricSum(run: Int, key: String): Double =
    metricValues.get((run, key)).map(_.values.sum.toDouble).getOrElse(0.0)

  def span[T](name: String, parent: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally {
      val t1 = System.currentTimeMillis()
      synchronized { spans += Span(name, t0, t1, parent, runId) }
    }
  }
}

/** Scheduler-side events: jobs, stages, task metrics, SQL executions and
  * cached blocks. Attached with `spark.extraListeners`. */
class TraceListener extends SparkListener {
  import Trace._

  // constructed near the end of SparkContext start-up
  locally {
    val r = runId
    if (r >= 0) Trace.synchronized { contextReady(r) = System.currentTimeMillis() }
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    val r = runId
    if (r >= 0) Trace.synchronized { appEnd(r) = e.time }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val r = runId
    if (r >= 0) Trace.synchronized { jobs(r) = jobs.getOrElse(r, 0) + 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = runId
    if (r < 0 || e.taskMetrics == null) return
    val m = e.taskMetrics
    Trace.synchronized {
      val a = stageAgg.getOrElseUpdate((r, e.stageId), new StageAgg)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.first = a.first min e.taskInfo.launchTime
      a.last = a.last max e.taskInfo.finishTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val r = runId
    if (r < 0) return
    val s = e.stageInfo
    Trace.synchronized {
      stageAccums((r, s.stageId)) =
        stageAccums.getOrElse((r, s.stageId), Set.empty) ++ s.accumulables.keySet
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val r = runId
    val b = e.blockUpdatedInfo
    if (r < 0 || !b.blockId.isRDD) return
    Trace.synchronized {
      val key = (r, b.blockId.name)
      if (b.storageLevel.isValid) cachedBytes(key) = b.memSize + b.diskSize
      else cachedBytes.remove(key)
      val live = cachedBytes.iterator.filter(_._1._1 == r).map(_._2).sum
      peakCached(r) = peakCached.getOrElse(r, 0L) max live
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    val r = runId
    if (r < 0) return
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val root = s.rootExecutionId.getOrElse(s.executionId)
        Trace.synchronized {
          sqlExecs((r, s.executionId)) =
            SqlExec(r, s.executionId, root, Summary.phase(s.physicalPlanDescription), s.time)
        }
      case s: SparkListenerSQLExecutionEnd =>
        Trace.synchronized { sqlEnds((r, s.executionId)) = s.time }
      case _ => ()
    }
  }
}

/** Walks each executed physical plan once the action has succeeded: tags
  * every SQL metric accumulator with the layer of its node, and counts
  * plan shapes and operator rows. Attached with
  * `spark.sql.queryExecutionListeners`. */
class TraceQueryListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val r = Trace.runId
    if (r >= 0) Layers.walk(r, qe.executedPlan)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Attribution of physical operators to the repository's modules.
  *
  * An attribute belongs to the layer that defined it: the ops name their
  * outputs (`hts`, `shared`, `rt_users`, `txt_plus_rt`, ...) and tag their
  * edges with a `type` literal, and the shared edge columns (`src`, `dst`,
  * `w`, `id`) inherit the layer of what they were computed from. A node's
  * layer is the most downstream (in [[order]]) of the layers of the
  * attributes it defines and of its inputs' layers, so work stays with the
  * op that consumes it. A stage's task time goes to the layer of its most
  * downstream tagged node, which is the layer of the stage's output; the
  * final stage of a CSV write goes to the module that wrote it. Stages
  * with no tagged node stay unattributed.
  */
object Layers {
  import Trace._

  val definitive: Seq[(String, Set[String])] = Seq(
    "ops.TextClean" -> Set("txt_plus_rt"),
    "ops.Report" -> Set("user", "retweeted_user", "rt_users", "bert_users", "u",
      "peer", "jc_users", "hashTags", "retweetUsers", "beRetweetUsers", "jaccardUsers"),
    "ops.Neighbours" -> Set("nid", "__nid_src", "__nid_dst"),
    "ops.JaccardGraph" -> Set("tag", "n", "shared", "n1", "n2", "tf"),
    "ops.HashtagGraph" -> Set("htea", "hts"))
  private val edgeType =
    Map("RT" -> "ops.RetweetGraph", "HT" -> "ops.HashtagGraph", "JC" -> "ops.JaccardGraph")
  /** Downstream-first order used when one node touches several layers. */
  val order: Seq[String] = Seq("graph.save", "ops.Report", "ops.Neighbours",
    "ops.TextClean", "ops.TweetGraphPipeline", "graph.Graph", "ops.JaccardGraph",
    "ops.HashtagGraph", "ops.RetweetGraph", "tweets")
  private def downstream(ls: Iterable[String]): Option[String] =
    order.find(l => ls.exists(_ == l))

  def walk(run: Int, root: SparkPlan): Unit = Trace.synchronized {
    val attr = mutable.Map[ExprId, String]()

    def layerOfAttr(a: Attribute, p: SparkPlan): Option[String] = {
      definitive.collectFirst { case (l, names) if names(a.name) => l }.orElse {
        val defn: Option[Expression] = p match {
          case g: GenerateExec => Some(g.generator)
          case _ => p.expressions.flatMap(_.collect {
            case al: Alias if al.exprId == a.exprId => al.child }).headOption
        }
        defn match {
          case Some(Literal(v, _)) if v != null && edgeType.contains(v.toString) =>
            Some(edgeType(v.toString))
          case d =>
            val refs = d.toSeq.flatMap(_.references.toSeq).flatMap(x => attr.get(x.exprId))
            downstream(refs).map {
              // columns computed straight from the corpus: the edge columns
              // are the retweet graph's, the user id is the tag mapping's
              case "tweets" if Set("src", "dst", "w", "type")(a.name) => "ops.RetweetGraph"
              case "tweets" if a.name == "id" => "ops.HashtagGraph"
              case l => l
            }
        }
      }
    }

    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case x: ReusedExchangeExec => Seq(x.child)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case other => other.children ++ other.subqueries
    }

    // returns the node's layer: the most downstream of the layers its
    // inputs carry and the layers of the attributes it defines
    def visit(p: SparkPlan, depth: Int, write: Option[String]): Option[String] = {
      val w = p match {
        case d: DataWritingCommandExec => d.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => Some(writeLayer(i.outputPath.toString))
          case _ => write
        }
        case _ => write
      }
      val ks = kids(p)
      // a write owns only its final stage: the tag stops at stage inputs
      val stageInput = p match {
        case _: QueryStageExec | _: ShuffleExchangeLike | _: BroadcastExchangeLike |
             _: ReusedExchangeExec | _: InMemoryTableScanExec => true
        case _ => false
      }
      val inputs = ks.flatMap(visit(_, depth + 1, if (stageInput) None else w))
      // nodes that expose a renamed copy of their child's output
      p match {
        case i: InMemoryTableScanExec =>
          i.relation.output.zip(i.relation.cachedPlan.output).foreach { case (o, c) =>
            attr.get(c.exprId).foreach(attr(o.exprId) = _) }
        case x: ReusedExchangeExec =>
          x.output.zip(x.child.output).foreach { case (o, c) =>
            attr.get(c.exprId).foreach(attr(o.exprId) = _) }
        case _ => ()
      }
      val childIds = ks.flatMap(_.output.map(_.exprId)).toSet
      val created = p.output.filterNot(a => childIds(a.exprId))
      val isScan = p.isInstanceOf[FileSourceScanExec]
      created.foreach { a =>
        if (!attr.contains(a.exprId))
          (if (isScan) Some("tweets") else layerOfAttr(a, p)).foreach(attr(a.exprId) = _)
      }
      val own: Seq[String] = p match {
        case _ if isScan => Seq("tweets")
        case a: BaseAggregateExec if a.aggregateExpressions.isEmpty =>
          // a distinct: over the edge union it is the pipeline's, over an
          // endpoint set it is Graph.verticesOf
          val names = a.groupingExpressions.collect { case n: NamedExpression => n.name }.toSet
          if (names == Set("src", "dst", "w", "type")) Seq("ops.TweetGraphPipeline")
          else if (names == Set("id")) Seq("graph.Graph")
          else created.flatMap(c => attr.get(c.exprId))
        case _ => created.flatMap(c => attr.get(c.exprId))
      }
      val layer = downstream(own ++ inputs)
      val tag = NodeTag(w.orElse(layer), depth, p.nodeName)
      p.metrics.values.foreach(m => if (!accumTags.contains(m.id)) accumTags(m.id) = tag)
      // one metric id per node stands for the node in the de-duplicated counts
      def count(key: String, metric: String, value: Long => Long): Unit =
        p.metrics.get(metric).foreach(m => Trace.metric(run, key, m.id, value(m.value)))
      def rowsTo(key: String): Unit = count(key, "numOutputRows", identity)
      def once(key: String): Unit = Trace.metric(run, key,
        p.metrics.values.headOption.map(_.id).getOrElse(-System.identityHashCode(p).toLong), 1L)
      p match {
        case s: FileSourceScanExec =>
          s.metrics.values.foreach(m => scanAccums += m.id)
          rowsTo("tweets.scan_rows")
          count("tweets.read_bytes", "filesSize", identity)
        case _: ShuffleExchangeLike => once("plan.exchanges")
        case _: WindowExecBase => once("plan.windows")
        case _: BroadcastNestedLoopJoinExec | _: CartesianProductExec => once("plan.nested_loop_joins")
        case _ => ()
      }
      // the tag self-join emits the candidate pairs; the condition that
      // compares shared tags with set sizes emits the Jaccard edges
      val cond: Option[Expression] = p match {
        case f: FilterExec => Some(f.condition)
        case j: SortMergeJoinExec => j.condition
        case j: HashJoin => j.condition
        case _ => None
      }
      p match {
        case j: SortMergeJoinExec if j.leftKeys.exists(isTag) => rowsTo("ops.JaccardGraph.pair_rows")
        case j: HashJoin if j.leftKeys.exists(isTag) => rowsTo("ops.JaccardGraph.pair_rows")
        case _ => ()
      }
      if (cond.exists { c => val n = c.references.map(_.name).toSet; n("shared") && (n("n") || n("n1")) })
        rowsTo("ops.JaccardGraph.edge_rows")
      layer
    }
    visit(root, 0, None)
  }

  private def isTag(e: Expression): Boolean = e match {
    case a: Attribute => a.name == "tag"
    case _ => e.children.exists(isTag)
  }

  /** Which module a CSV write belongs to, by the CLI's output layout. */
  def writeLayer(path: String): String =
    if (path.contains("/wordCloud")) "ops.TextClean"
    else if (path.contains("/exportPowerBI")) "ops.Report"
    else "graph.save"
}
