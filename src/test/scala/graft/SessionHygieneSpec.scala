package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** A row leaves its session as it found it. Each row here runs through
  * `Q.run` on a child session whose `Tables` are already cached, and the
  * session must come back with the same confs, the same temp views and the
  * same `CacheManager` entries. A row that executed inside a conf scope by
  * caching its answer would add an entry, and its next run would read that
  * answer instead of running its join: so a second run must launch as many
  * jobs as the first.
  */
class SessionHygieneSpec extends SparkSpec {

  private lazy val child: SparkSession = {
    val s = spark.newSession()
    // Before any job on the session, as `Q.run` would install it.
    graft.functions.Native.register(s)
    Tables.names.foreach(t => Tables(s, sf, t).count())
    s
  }

  private def cacheEntries: Int = org.apache.spark.sql.graft.CacheProbe.entries(child)

  private def tempViews: Seq[String] =
    child.sessionState.catalog.listLocalTempViews("*").map(_.table)

  /** Jobs one `Q.run` plus collect of `id` launches on the child session. */
  private def jobs(id: String): Int = {
    val s = child // set up outside the tally
    val tally = new JobTally(spark.sparkContext)
    try {
      tally.tagged(id)(Registry.byId(id).run(s, sf).collect())
      tally(id)
    } finally tally.close()
  }

  for (id <- Seq("join_skew_aqe", "join_bloom_runtime_filter"))
    test(s"$id runs its join again and leaves confs and the cache as it found them") {
      val confs = child.conf.getAll
      val entries = cacheEntries
      val first = jobs(id)
      val second = jobs(id)
      val added = cacheEntries - entries
      val confsKept = child.conf.getAll == confs
      assert(second == first && added == 0 && confsKept,
        s"$id ran $first jobs, then $second; it added $added CacheManager " +
          s"entries; confs kept: $confsKept")
    }

  test("the SQL-text rows drop their temp views and keep Tables cached") {
    val views = tempViews
    for (id <- Seq("sql_flagship_twin", "agg_rollup_grouping_sets")) {
      Registry.byId(id).run(child, sf).collect()
      assert(tempViews == views, s"$id left temp views behind")
    }
    for (t <- Tables.names)
      assert(Tables(child, sf, t).storageLevel != StorageLevel.NONE,
        s"$t is no longer cached")
  }
}
