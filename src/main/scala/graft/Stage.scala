package graft

import java.nio.file.Path
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-JVM staging of a shared intermediate: the first caller for a
  * key builds the artifact into a fresh [[Scratch]] dir, every later
  * caller in the same JVM gets that dir back. Stage once, read many —
  * the MapReduce reuse pattern: a table several queries derive the
  * same way (the sim-join set and pair tables, the LSH chain, the BPE
  * symbol stream, the partsupp surrogate, the snapshot histories, the
  * replay sources) is priced by one build per fixture dir instead of
  * once per consumer. At 100 TB these are the pipeline's persisted
  * intermediate tables; the build is their derivation job.
  *
  * The staging contract, which every caller relies on:
  *  - The artifact is a deterministic function of the key, so sharing
  *    it never changes a consumer's result. Nothing memoizes RESULTS:
  *    consumers recompute from the staged files on every call.
  *  - One lock per key, never one global lock: independent builds (the
  *    q000 staging chains) run concurrently, and a caller that finds
  *    its key mid-build waits for it and reads the finished dir.
  *  - A build may stage a DIFFERENT key from inside itself (pairs0.9 →
  *    pairs0.7 → srt). Nesting must follow an acyclic key order, which
  *    the dependency chains give by construction.
  *  - The build runs under the key's own lock, never inside a
  *    `ConcurrentHashMap` bin lock, so it may run Spark jobs and copy
  *    files.
  *  - A build that throws leaves no entry and its dir is deleted; the
  *    next call builds again.
  *  - The dir's name starts with `prefix`, so plans name the artifact
  *    they scan. Scratch's shutdown hook removes it with the JVM.
  */
object Stage {

  private val built = new ConcurrentHashMap[(String, Any), Path]()
  // computeIfAbsent is safe here: the mapping function only allocates
  // the lock object and never recurses into this map
  private val locks = new ConcurrentHashMap[(String, Any), Object]()

  /** The dir staged for (`prefix`, `key`), running `build` on a fresh
    * `Scratch.dir(prefix)` if this JVM has not staged it yet.
    */
  def once(prefix: String, key: Any)(build: Path => Unit): Path = {
    val k = (prefix, key)
    val hit = built.get(k)
    if (hit != null) hit
    else locks.computeIfAbsent(k, _ => new Object).synchronized {
      val again = built.get(k)
      if (again != null) again
      else {
        val dir = Scratch.dir(prefix)
        try build(dir)
        catch { case e: Throwable => Scratch.deleteTree(dir); throw e }
        built.put(k, dir)
        dir
      }
    }
  }

  /** [[once]] for a DataFrame artifact: `df` is written as parquet on
    * the first call and every call scans the staged file, through
    * [[Tables.parquet]]'s schema cache.
    */
  def parquet(s: SparkSession, prefix: String, key: Any)(
      df: => DataFrame): DataFrame = {
    val file = "staged.parquet"
    val dir = once(prefix, key)(d => df.write.parquet(d.resolve(file).toString))
    Tables.parquet(s, dir.resolve(file).toString)
  }
}
