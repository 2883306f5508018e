package org.apache.spark

/** Test access to the running context's `private[spark]` conf, which the
  * scheduler reads per stage (for `spark.driver.maxResultSize`, say). */
object GraftTestConf {

  /** Runs `thunk` with `key` set to `value` on `sc`'s conf, then restores
    * the key's earlier state. */
  def withConf[A](sc: SparkContext, key: String, value: String)(thunk: => A): A = {
    val before = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try thunk
    finally before.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
