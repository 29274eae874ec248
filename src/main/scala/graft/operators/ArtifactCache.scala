package graft.operators

import scala.reflect.{ClassTag, classTag}

import org.apache.hadoop.fs.Path
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Session-lifetime cache for every TRAINED ARTIFACT derived from a
  * corpus dir, under one train-once contract: one derivation per corpus
  * per session, every later consumer reads the cached result. In a
  * deployment each artifact is persisted next to the table with
  * [[save]] and read back with [[load]], never re-derived on the query
  * path. Two kinds of entry share one map:
  *
  *  - [[of]]: small derived TABLES (near-dup pair lists, the doc→cluster
  *    map, ANN top-k result tables), `localCheckpoint`ed — materialized
  *    to executor storage, lineage truncated — so reuse costs one scan;
  *  - [[value]]: driver-side values (corpus row counts, IVF/PQ/k-means
  *    codebooks, BPE merge tables, the quality-LR model, and the parquet
  *    schema of each source table `Tables.table` reads), held as built.
  *
  * Artifacts of one dir derive from each other (the IVF book from the
  * corpus count, the cluster map from the ngram pair list), so
  * [[invalidateDir]] is the only invalidation after a corpus dir is
  * rewritten in place.
  *
  * Lifetime: the outer map is weakly keyed by the session OBJECT (never
  * an identity hash, which two live sessions can share), so entries are
  * never served to another session. A cached DataFrame references its
  * session, though, so once a session holds one table artifact its
  * weak key never clears: its entries live until they are invalidated
  * or the JVM exits. Checkpointed blocks go with the SparkContext when
  * it stops.
  */
object ArtifactCache {

  /** session → (dir|name → artifact). WeakHashMap is not thread-safe:
    * all access goes through `sessions.synchronized`; per-session inner
    * maps are concurrent so builds never hold the outer lock. */
  private val sessions =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, AnyRef]]()

  private def forSession(spark: SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, AnyRef] =
    sessions.synchronized {
      var m = sessions.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
        sessions.put(spark, m)
      }
      m
    }

  private def key(dir: String, name: String): String = s"$dir|$name"

  /** The cached table for (corpus dir, name), building + checkpointing
    * on first use. */
  private[graft] def of(spark: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    getOrBuild(spark, dir, name)(build.localCheckpoint())

  /** The cached driver-side value for (corpus dir, name), building it
    * on first use (no checkpoint: the value lives on the driver). A
    * table that is already a checkpoint — a fixpoint's last state — is
    * held here too, as built, instead of being checkpointed twice. */
  private[graft] def value[T: ClassTag](spark: SparkSession, dir: String,
      name: String)(build: => T): T =
    getOrBuild(spark, dir, name)(build)

  /** Deliberately NOT `computeIfAbsent`: builders read other cached
    * artifacts (the IVF book reads the corpus count, `ann_topk_ivf`
    * reads the IVF book, the cluster map reads the ngram pair list), and
    * nested `computeIfAbsent` on one map is a recursive-update error.
    * Two racing first builds both run; the first to land wins. A hit
    * of the other kind than the reader's (a [[load]] from a path saved
    * for another artifact) fails here, by name, not as a cast error. */
  private def getOrBuild[T: ClassTag](spark: SparkSession, dir: String,
      name: String)(build: => T): T = {
    val m = forSession(spark)
    val k = key(dir, name)
    val hit = m.get(k)
    if (hit != null) {
      val wanted =
        if (classOf[Dataset[_]].isAssignableFrom(classTag[T].runtimeClass)) "table"
        else "value"
      if (kindOf(hit) != wanted) throw new IllegalStateException(
        s"artifact $k holds a ${kindOf(hit)}, but its reader expects a $wanted")
      hit.asInstanceOf[T]
    } else {
      val t0 = System.nanoTime()
      val built = build.asInstanceOf[AnyRef]
      buildSec.put(k, (System.nanoTime() - t0) / 1e9)
      val prev = m.putIfAbsent(k, built)
      (if (prev != null) prev else built).asInstanceOf[T]
    }
  }

  /** Wall seconds of each artifact's FIRST derivation this JVM (key =
    * "dir|name"), tables and values alike; a build that reads another
    * artifact built on the way includes that build's time. Observability
    * only (r15 VERDICT #2): cached-consumer bench minima are warm-path
    * numbers by the train-once contract, and this map is what lets a
    * reader separate the one-off corpus-sized derivation cost from the
    * per-query cost — Bench emits it as `artifact_build_sec`. */
  private val buildSec =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Snapshot of every first-derivation time recorded so far. */
  def buildSeconds: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    buildSec.forEach((k, v) => b += (k -> v.doubleValue()))
    b.result()
  }

  private def kindOf(artifact: AnyRef): String = artifact match {
    case _: Dataset[_] => "table"
    case _ => "value"
  }

  /** Write the cached artifact (dir, name) to `path`, replacing what is
    * there: a table as parquet in `path/table`, a value as one
    * Java-serialized object in `path/value`. The child's name records
    * the kind, so [[load]] takes no type argument. Saving never builds:
    * the artifact must be cached. */
  def save(spark: SparkSession, dir: String, name: String, path: String): Unit = {
    val artifact = forSession(spark).get(key(dir, name))
    if (artifact == null) throw new NoSuchElementException(
      s"cannot save artifact $name of $dir: it is not cached (build it first)")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(root, true)
    artifact match {
      case t: Dataset[_] => t.write.parquet(new Path(root, "table").toString)
      case v =>
        val out = serializer(spark).serializeStream(fs.create(new Path(root, "value")))
        try out.writeObject(v) finally out.close()
    }
  }

  /** Read back what [[save]] wrote at `path` and cache it as (dir,
    * name), replacing any cached entry, so every consumer reads it
    * instead of deriving it; a table is `localCheckpoint`ed, as [[of]]
    * does. A loaded artifact is served as saved: most are functions of
    * the corpus, so after an in-place rewrite call [[invalidateDir]]
    * and re-derive rather than loading a stale one. Returns the
    * artifact. */
  def load(spark: SparkSession, dir: String, name: String, path: String): AnyRef = {
    val (tablePath, valuePath) = (new Path(path, "table"), new Path(path, "value"))
    val fs = tablePath.getFileSystem(spark.sessionState.newHadoopConf())
    val artifact: AnyRef =
      if (fs.exists(tablePath)) spark.read.parquet(tablePath.toString).localCheckpoint()
      else if (fs.exists(valuePath)) {
        val in = serializer(spark).deserializeStream(fs.open(valuePath))
        try in.readObject[AnyRef]() finally in.close()
      } else throw new java.io.FileNotFoundException(
        s"no saved artifact at $path: neither $tablePath nor $valuePath exists")
    forSession(spark).put(key(dir, name), artifact)
    artifact
  }

  /** Java serialization, whatever `spark.serializer` says: the format
    * on disk must not depend on a session setting. */
  private def serializer(spark: SparkSession) =
    new JavaSerializer(spark.sparkContext.getConf).newInstance()

  /** Drop EVERY cached artifact, table or value, of a corpus dir
    * rewritten in place — the one invalidation, since the artifacts of
    * a dir form a derivation chain. */
  def invalidateDir(spark: SparkSession, dir: String): Unit = {
    val m = forSession(spark)
    val it = m.keySet().iterator()
    while (it.hasNext) if (it.next().startsWith(s"$dir|")) it.remove()
  }
}
