package perfbench

/** Helpers the workloads share: spans that cost nothing when untraced, and
  * an operation's error as one line. */
object Run {
  def span[T](probe: Option[Probe], op: String, layer: String, name: String,
      parent: Option[String] = None)(body: => T): T =
    probe.fold(body)(_.span(op, layer, name, parent)(body))

  def error(e: Throwable): Option[String] =
    Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
}
