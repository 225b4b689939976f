package graft

import org.apache.spark.sql.SparkSession

/** The one local session config every graft main runs under. */
object Sessions {

  def local(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // JVM (not ICU) case mappings: avoids a minutes-long one-time ICU
      // title-case table build in cold JVMs; identical results on ASCII data.
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // long query sequences accumulate broadcast/shuffle metadata that only
      // a JVM GC lets the ContextCleaner reclaim; default interval is 30min
      .config("spark.cleaner.periodicGC.interval", "30s")
      // 45+ queries x 2 reps generate far more than the default 100 cached
      // codegen classes; evictions force janino recompiles on the second
      // rep, which lands as seconds of phantom "query time" (static conf,
      // must be set before session creation)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
}
