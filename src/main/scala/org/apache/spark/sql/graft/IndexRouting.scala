package org.apache.spark.sql.graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Cast, EqualTo, Expression, Literal, NamedExpression, Pmod, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Access-path selection as a Catalyst rule (SURVEY.md Q2, §4 "optional
  * sugar"): the reference picks the forward or inverted index inside its
  * fixed query code (`rocksdb-impl.c:622-630`); `ObservationStore.entries`
  * does the same at the API layer. This rule extends that to ARBITRARY
  * DataFrame/SQL queries: a filter with an `rdata` equality and no
  * `rrname` equality against the FORWARD copy is rewritten to scan the
  * registered INVERTED copy instead — and the matching `bucket = hash(lit)`
  * predicate is injected so partition pruning fires. Output attribute ids
  * are preserved via an aliasing Project, so the rewrite is invisible to
  * the rest of the plan.
  *
  * Install with [[IndexRouting.install]] (runtime,
  * `spark.experimental.extraOptimizations`) or register
  * `graft.GraftSparkExtensions` under `spark.sql.extensions`.
  */
case class IndexRouting(spark: SparkSession) extends Rule[LogicalPlan] {

  import IndexRouting._

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, rel: LogicalRelation)
        if forwardOf(rel).isDefined &&
          eqLiteral(cond, "rdata").isDefined &&
          eqLiteral(cond, "rrname").isEmpty =>
      val reg = forwardOf(rel).get
      val inverted = invertedRelation(spark, reg)
      // map forward-output names -> inverted attributes
      val byName = inverted.output.map(a => a.name -> a).toMap
      if (!rel.output.forall(a => byName.contains(a.name))) f
      else {
        // keep the original exprIds so parents are untouched. `bucket` is
        // the one column whose VALUE differs between copies
        // (hash(rrname) vs hash(rdata)): recompute the forward semantics
        // from the inverted copy's rrname so projections/filters on
        // bucket stay correct after the reroute.
        val proj: Seq[NamedExpression] = rel.output.map { orig =>
          val source =
            if (orig.name == "bucket")
              Cast(Pmod(new XxHash64(Seq(byName("rrname"))),
                Literal(reg.numBuckets.toLong)), byName("bucket").dataType)
            else byName(orig.name)
          Alias(source, orig.name)(exprId = orig.exprId)
        }
        val rdataLit = eqLiteral(cond, "rdata").get
        val bucketAttr = byName("bucket")
        val bucketPred = EqualTo(bucketAttr,
          Cast(Pmod(new XxHash64(Seq(rdataLit)), Literal(reg.numBuckets.toLong)),
            bucketAttr.dataType))
        Filter(cond, Project(proj, Filter(bucketPred, inverted)))
      }
  }

  private def forwardOf(rel: LogicalRelation): Option[Registration] =
    rel.relation match {
      case fs: HadoopFsRelation =>
        // qualified-path EQUALITY, not substring or descendant matching:
        // a sibling dir like <store>/by_rrname_v2 must not match, and a
        // scan rooted at a single bucket subdirectory
        // (<store>/by_rrname/bucket=5) must not be rerouted either — the
        // substituted inverted relation would scan ALL buckets and
        // return rows the original scan could never produce.
        // Registration qualifies the path, so equality is sufficient.
        val roots = fs.location.rootPaths
        registry.values.find(r => roots.contains(r.forwardPath))
      case _ => None
    }

  /** literal compared for equality with column `name`, if present. */
  private def eqLiteral(cond: Expression, name: String): Option[Literal] = {
    def scan(e: Expression): Option[Literal] = e match {
      case And(l, r) => scan(l).orElse(scan(r))
      case EqualTo(a: Attribute, l: Literal) if a.name == name => Some(l)
      case EqualTo(l: Literal, a: Attribute) if a.name == name => Some(l)
      case _ => None
    }
    scan(cond)
  }
}

object IndexRouting {

  final case class Registration(storePath: String, numBuckets: Int,
      forwardPath: org.apache.hadoop.fs.Path)

  private val registry = TrieMap.empty[String, Registration]

  /** Register a dual store so rdata lookups against its forward copy are
    * rerouted, and attach the rule to this session (idempotent).
    *
    * The bucket count is a LAYOUT invariant of the written store, so it is
    * read from the store's `_graft_meta.json` after any interrupted write
    * is resolved (`ObservationStore.openBuckets`, the same source
    * `ObservationStore.load` trusts) — never taken from the caller, which
    * would inject a wrong `bucket = pmod(xxhash64(rdata), N)` predicate
    * and silently drop matching rows. A legacy store is refused with the
    * `rebucket` upgrade command. */
  def install(spark: SparkSession, storePath: String): Unit = {
    val numBuckets = graft.operators.ObservationStore
      .openBuckets(spark, storePath)
    val fwd = new org.apache.hadoop.fs.Path(s"$storePath/by_rrname")
    val qualified = fwd
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(fwd)
    registry.put(storePath, Registration(storePath, numBuckets, qualified))
    val already = spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[IndexRouting])
    if (!already)
      spark.experimental.extraOptimizations ++= Seq(IndexRouting(spark))
  }

  def uninstall(storePath: String): Unit = registry.remove(storePath)

  /** The inverted relation is re-resolved per rewrite — NOT cached: the
    * store's files change under incremental merges (dynamic partition
    * overwrite deletes old files), and a cached file index would serve
    * stale or missing files. The cost is one driver-side listing per
    * rerouted query, the same price `spark.read.parquet` always pays. */
  private def invertedRelation(spark: SparkSession,
      reg: Registration): LogicalRelation =
    castToImpl(spark.read.parquet(s"${reg.storePath}/by_rdata"))
      .queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }.get.newInstance()
}
