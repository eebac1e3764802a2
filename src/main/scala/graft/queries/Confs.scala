package graft.queries

import org.apache.spark.sql.SparkSession

/** The one temporary session-conf override. */
object Confs {

  /** Set each of `kvs` on `s`, run `body`, then put every key back: its old
    * value if it had one, unset if it did not.
    *
    * Spark reads most SQL confs when it optimizes and executes a plan, not
    * when the DataFrame is built. So a body that returns a DataFrame must
    * EXECUTE it inside the scope (`localCheckpoint()`, a collect, a stream
    * run to its end): a lazy frame handed out of the scope runs later,
    * under the restored confs, and a `.cache()`d one answers every later
    * run of the same plan from the first run's blocks. A conf that Spark
    * reads while it analyzes the plan, such as parquet schema inference, is
    * used up before the body returns.
    */
  def scoped[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    // `getAll`, not `getOption`: `getOption` answers a registered key's
    // default, so a key that had no value would be set, not unset, after.
    val set = s.conf.getAll
    val olds = kvs.map { case (k, _) => k -> set.get(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally olds.foreach { case (k, old) =>
      old.fold(s.conf.unset(k))(s.conf.set(k, _))
    }
  }
}
