package graft.core

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.BindReferences.{bindReference, bindReferences}
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Driver-side finish for small aggregates: the single-process path of
  * the reference profiler (`DatasetProfile.track`, SURVEY §3.1), run on
  * Spark's own aggregate definitions so no metric is defined twice.
  *
  * [[local]] is the counted gate: one `limit(n + 1)` collect decides
  * whether an input fits, and hands back its rows as a `LocalRelation`
  * frame. [[collect]] evaluates the optimized plan of an aggregate built
  * on such a frame (an `Aggregate` directly over a `LocalRelation`)
  * through the interpreted expression path, with no Spark job and no
  * generated code. Each group is updated as the distributed plan's
  * partial stage would, its buffer serialized and merged into a fresh
  * one as the final stage would, then evaluated, so a one-partition
  * input gives the distributed branch's bytes. */
object LocalAggregate {

  /** `df`'s rows as a `LocalRelation`-backed frame when they hold at most
    * `cellBound` cells (rows × columns), found with one counted collect.
    * None above the bound, for a bound ≤ 0, and, without a job, for a
    * plan read from files whose optimizer size already exceeds the bound
    * at 8 bytes a cell (an estimate may only send an input past the
    * driver, never to it). */
  def local(df: DataFrame, cellBound: Long): Option[DataFrame] = {
    val rowBound = math.min(cellBound / math.max(1, df.schema.length), Int.MaxValue - 1L)
    val plan = df.queryExecution.optimizedPlan
    val leaves = plan.collectLeaves()
    val readsFiles = leaves.nonEmpty && leaves.forall {
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case _ => false
    }
    if (cellBound <= 0 || readsFiles && plan.stats.sizeInBytes > BigInt(cellBound) * 8) None
    else {
      val rows = df.limit(rowBound.toInt + 1).collect()
      if (rows.length > rowBound) None
      else Some(df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema))
    }
  }

  /** The rows of the `aggregates` built on `df`'s [[local]] frame, each
    * evaluated by [[collect]], in order. None when `df` holds more than
    * `cellBound` cells or [[collect]] does not recognise one aggregate's
    * plan: the caller then runs its distributed plan. */
  def finish(df: DataFrame, cellBound: Long)(aggregates: DataFrame => Seq[DataFrame])
      : Option[Seq[Row]] =
    local(df, cellBound).flatMap(l => aggregates(l).foldLeft(Option(Seq.empty[Row])) {
      (done, aggregate) => done.flatMap(rows => collect(aggregate).map(rows ++ _))
    })

  /** `df`'s rows, computed on the driver, when its optimized plan is an
    * aggregate over a `LocalRelation` (or already folded to one) whose
    * functions are all non-distinct, unfiltered declarative or imperative
    * aggregates. None for any other shape: the caller runs its
    * distributed plan. */
  def collect(df: DataFrame): Option[Array[Row]] = {
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    val out: Option[Seq[InternalRow]] = df.queryExecution.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming => Some(l.data)
      case a: Aggregate => a.child match {
        case l: LocalRelation if !l.isStreaming => evaluate(a, l.output, l.data)
        case _ => None
      }
      case _ => None
    }
    out.map(_.map(r => toRow(r).asInstanceOf[Row]).toArray)
  }

  private def evaluate(a: Aggregate, input: Seq[Attribute], data: Seq[InternalRow])
      : Option[Seq[InternalRow]] = {
    val aggExprs = a.aggregateExpressions
      .flatMap(_.collect { case e: AggregateExpression => e }).distinct
    if (!a.expressions.forall(_.deterministic) || aggExprs.exists(e =>
        e.isDistinct || e.filter.nonEmpty || e.mode != Complete ||
          !e.aggregateFunction.isInstanceOf[DeclarativeAggregate] &&
          !e.aggregateFunction.isInstanceOf[ImperativeAggregate])) return None
    // one buffer row per group, laid out as the physical plan lays it out:
    // every function's slots in order, imperative ones at their offsets
    val offsets = aggExprs.scanLeft(0)(_ + _.aggregateFunction.aggBufferAttributes.length)
    val fns = aggExprs.zip(offsets).map { case (e, off) => e.aggregateFunction match {
      case i: ImperativeAggregate => bindReference(
        i.withNewMutableAggBufferOffset(off).withNewInputAggBufferOffset(off), input)
      case d => d
    } }
    val imperative = fns.collect { case i: ImperativeAggregate => i }
    val bufAttrs = fns.flatMap(_.aggBufferAttributes)
    def declarative(f: DeclarativeAggregate => Seq[Expression], against: Seq[Attribute]) =
      bindReferences(fns.flatMap {
        case d: DeclarativeAggregate => f(d)
        case i => Seq.fill(i.aggBufferAttributes.length)(NoOp)
      }, against)
    val updates = declarative(_.updateExpressions, bufAttrs ++ input)
    val merges =
      declarative(_.mergeExpressions, bufAttrs ++ fns.flatMap(_.inputAggBufferAttributes))
    val results = bindReferences(fns.map {
      case d: DeclarativeAggregate => d.evaluateExpression
      case i => i
    }, bufAttrs)
    val groupAttrs = a.groupingExpressions.map(e => Alias(e, "g")().toAttribute)
    val resultAttrs = aggExprs.map(_.resultAttribute)
    val project = bindReferences(a.aggregateExpressions.map(_.transformDown {
      case e: AggregateExpression => resultAttrs(aggExprs.indexOf(e))
      case e if a.groupingExpressions.exists(_.semanticEquals(e)) =>
        groupAttrs(a.groupingExpressions.indexWhere(_.semanticEquals(e)))
    }), groupAttrs ++ resultAttrs)
    if ((updates ++ merges ++ results ++ project ++ imperative)
        .exists(_.exists { case NoOp => false; case _: Unevaluable => true; case _ => false }))
      return None

    val init = new InterpretedMutableProjection(declarative(_.initialValues, Nil))
    val update = new InterpretedMutableProjection(updates)
    val merge = new InterpretedMutableProjection(merges)
    def fresh(): InternalRow = {
      val buf = new GenericInternalRow(bufAttrs.length)
      init.target(buf)(InternalRow.empty)
      imperative.foreach(_.initialize(buf))
      buf
    }
    val key = InterpretedUnsafeProjection.createProjection(
      bindReferences(a.groupingExpressions, input))
    val groups = new java.util.LinkedHashMap[InternalRow, InternalRow]()
    val joined = new JoinedRow()
    data.foreach { row =>
      val k = key(row)
      var buf = groups.get(k)
      if (buf == null) { buf = fresh(); groups.put(k.copy(), buf) }
      update.target(buf)(joined(buf, row))
      imperative.foreach(_.update(buf, row))
    }
    // a global aggregate answers one row even over no input
    if (groups.isEmpty && a.groupingExpressions.isEmpty)
      groups.put(key(InternalRow.empty).copy(), fresh())
    val finish = new InterpretedMutableProjection(results)
    val output = new InterpretedMutableProjection(project)
    Some(groups.asScala.toSeq.map { case (k, partial) =>
      imperative.foreach {
        case t: TypedImperativeAggregate[_] => t.serializeAggregateBufferInPlace(partial)
        case _ => ()
      }
      val buf = fresh()
      merge.target(buf)(joined(buf, partial))
      imperative.foreach(_.merge(buf, partial))
      output(joined(k, finish(buf))).copy()
    })
  }
}
