package org.apache.spark

/** The one private Spark hook the harness needs: wait until every event
  * posted so far has reached the listeners, so a summary read right after
  * an operation sees all of that operation's jobs and stages. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
