package perfbench

/** What one benchmark workload provides to the timed loop in [[Main]]. */
trait Workload {
  /** Generate the inputs; everything before the first timed op. */
  def setup(): Unit
  /** The timed ops in rounds; the loop stops between rounds at the
    * deadline, so every run executes whole rounds. */
  def rounds: Iterator[Seq[Op]]
  /** Ops that end the timed phase whatever the deadline. */
  def closing: Seq[Op] = Nil
  /** Correctness checks run after the timed phase, untimed. */
  def verify(): Seq[(String, Boolean)] = Nil
  /** Where the workload keeps tables, if it has any. */
  def tableRoot: Option[java.io.File] = None
}
