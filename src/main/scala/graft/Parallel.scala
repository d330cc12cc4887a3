package graft

/** Runs mutually independent driver actions side by side, so a flow of
  * small writes keeps the cores busy while the driver plans, submits
  * and commits the next job.
  *
  * Each call starts one fresh thread per task, never a pooled one: Spark's
  * local properties (job group, job description, any caller tag) are
  * inheritable thread-locals copied when a thread is created, so a fresh
  * thread submits its jobs under the caller's properties, while a pooled
  * thread would keep those of whichever caller created it. The width is
  * the number of tasks passed in.
  *
  * Every task runs to completion. The first failure in task order is
  * rethrown with the others added as suppressed; fatal errors included,
  * nothing is swallowed.
  */
object Parallel {
  def all[A](tasks: (() => A)*): Seq[A] = {
    val results = new Array[Any](tasks.size)
    val failures = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.map { case (task, i) =>
      val t = new Thread(() =>
        try results(i) = task()
        catch { case e: Throwable => failures(i) = e },
        s"graft-parallel-$i")
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.filter(_ != null) match {
      case Array() => results.toSeq.asInstanceOf[Seq[A]]
      case Array(first, rest @ _*) =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
    }
  }
}
