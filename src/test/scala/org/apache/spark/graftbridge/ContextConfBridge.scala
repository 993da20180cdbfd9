package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Specs' access to the running SparkContext's own conf, which is
  * private[spark]: the scheduler reads some keys (e.g.
  * `spark.driver.maxResultSize`) from it per job, not from the session's
  * SQL conf.
  */
object ContextConfBridge {
  /** `body` with `key` set to `value` on `sc`'s conf, restored after. */
  def withConf[T](sc: SparkContext, key: String, value: String)(body: => T): T = {
    val saved = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try body
    finally saved.fold(sc.conf.remove(key))(sc.conf.set(key, _))
  }
}
