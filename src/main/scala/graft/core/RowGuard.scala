package graft.core

import org.apache.spark.sql.{Column, functions => F}
import graft.config.GraftConfigError

/** Per-row fail-loud checks that cost no job: a [[failIf]] guard rides a
  * projection the plan already runs, and [[raising]] around the action that
  * executes it turns the failed job back into a GraftConfigError. */
object RowGuard {
  private val Raised = "GraftConfigError: "

  /** `value`, except that a row where `bad` holds fails the job; [[raising]]
    * turns that failure into a GraftConfigError carrying `msg`. */
  def failIf(bad: Column, msg: Column, value: Column): Column =
    F.when(bad, F.raise_error(F.concat(F.lit(Raised), msg))).otherwise(value)

  /** `body`, with a job failed by a [[failIf]] guard rethrown as a
    * GraftConfigError carrying the guard's message. */
  def raising[T](body: => T): T =
    try body
    catch { case e: Exception =>
      val raised = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
        case t: org.apache.spark.SparkThrowable
            if Option(t.getMessageParameters.get("errorMessage")).exists(_.startsWith(Raised)) =>
          t.getMessageParameters.get("errorMessage").stripPrefix(Raised)
      }
      throw raised.map(new GraftConfigError(_)).getOrElse(e)
    }
}
