package perfbench

/** Minimal JSON writer for the harness's result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def op(o: Op): String = obj(Seq("kind" -> str(o.kind), "name" -> str(o.name),
    "s" -> num(o.seconds), "ok" -> o.ok.toString, "rows" -> o.rows.toString,
    "error" -> str(o.error)))

  def outcome(o: Outcome): Seq[(String, String)] = Seq(
    "ops" -> arr(o.ops.map(op)),
    "wall_s" -> num(o.wallS),
    "cpu_s" -> num(o.cpuS),
    "rows" -> o.rows.toString,
    "store" -> str(o.store))

  def spans(ss: Seq[Span]): String = arr(ss.map(s => obj(Seq(
    "id" -> s.id.toString, "name" -> str(s.name), "module" -> str(s.module),
    "parent" -> s.parent.toString, "op" -> s.op.toString,
    "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs)))))

  def jobs(js: Seq[JobRec]): String = arr(js.map(j => obj(Seq(
    "id" -> j.id.toString, "start_ms" -> j.startMs.toString,
    "end_ms" -> j.endMs.toString, "module" -> str(j.module),
    "caller" -> str(j.caller), "cp" -> j.cp.toString,
    "streaming" -> j.streaming.toString, "tasks" -> j.tasks.toString,
    "run_ms" -> j.runMs.toString, "gc_ms" -> j.gcMs.toString,
    "shuffle_bytes" -> j.shuffleBytes.toString,
    "spill_bytes" -> j.spillBytes.toString))))
}
