package graft.util

import org.apache.spark.SparkContext

/** Scoped Spark job descriptions: every job fired inside `labeled` carries
  * `label` in the UI and to listeners, and the caller's own description is
  * handed back afterwards — a labelled step nested in an outer labelled one
  * must not leave the outer job's later work unlabelled. */
object JobLabel {

  def labeled[A](sc: SparkContext, label: String)(body: => A): A = {
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(outer)
  }
}
