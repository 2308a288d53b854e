package graft.perfbench

/** Renders one iteration's result for `run.py`. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  private def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def arr(xs: Iterable[String]): String = xs.mkString("[", ",\n", "]")

  def result(workload: String, readyMs: Long, t0: Long, t1: Long, cpuS: Double,
      heapMb: Double, steps: Seq[Driver.Step], probes: Seq[(String, Double)],
      trace: Option[Trace]): String = {
    val base = Seq(
      "workload" -> str(workload),
      "ready_ms" -> readyMs.toString,
      "start_ms" -> t0.toString,
      "end_ms" -> t1.toString,
      "cpu_s" -> num(cpuS),
      "heap_retained_mb" -> num(heapMb),
      "steps" -> arr(steps.map(s => obj(
        "name" -> str(s.name), "start" -> s.start.toString, "end" -> s.end.toString,
        "error" -> s.error.map(str).getOrElse("null")))),
      "probes" -> obj(probes.map { case (k, v) => k -> num(v) }: _*))
    val traced = trace.toSeq.flatMap { t =>
      Seq(
        "run_id" -> str(t.runId),
        "spans" -> arr(t.spanRows.map(s => obj(
          "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> str(s.name),
          "start" -> s.start.toString, "end" -> s.end.toString))),
        "jobs" -> arr(t.jobRows.map(j => obj(
          "id" -> j.id.toString, "start" -> j.start.toString, "end" -> j.end.toString,
          "group" -> str(j.group), "site" -> str(j.site)))),
        "stages" -> arr(t.stageRows.map(s => s.synchronized(obj(
          "id" -> s.id.toString, "job" -> s.job.toString, "tasks" -> s.tasks.toString,
          "failed" -> s.failed.toString, "run_ms" -> s.runMs.toString,
          "gc_ms" -> s.gcMs.toString, "shuffle_read" -> s.shuffleRead.toString,
          "shuffle_write" -> s.shuffleWrite.toString, "spill" -> s.spill.toString,
          "result" -> s.result.toString, "input" -> s.input.toString)))),
        "query_starts" -> obj(scala.jdk.CollectionConverters.MapHasAsScala(t.queryStarts)
          .asScala.toSeq.map { case (k, v) => k -> v.toString }: _*))
    }
    obj(base ++ traced: _*) + "\n"
  }
}
