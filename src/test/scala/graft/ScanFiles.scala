package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** The data files a plan scans, for specs: the root paths of every
  * file-source relation in `plan`. In an optimized plan a manifest
  * scan's roots are exactly the files it kept, so their count is the
  * number of files the read opens. */
object ScanFiles {
  def roots(plan: LogicalPlan): Seq[String] = plan.collect {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
      case _ => Nil
    }
  }.flatten
}
