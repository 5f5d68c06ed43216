package graft.ops

import org.apache.spark.sql.DataFrame

/** Materialized index frames: the build-then-census shape a production
  * pipeline runs (hash/sketch ONCE, census and probe many times). A query
  * persists its per-asset index (media hashes, sketch cells) to parquet,
  * then computes the declared answer FROM THE PERSISTED FRAME — which is
  * also what makes everything downstream of an engine-only kernel (a JDK
  * codec, a JVM sketch aggregate) fully DuckDB-checkable: the oracle SQL
  * reads the same parquet bytes, so grouping / banding / probing get the
  * full rows+schema+hash check and only the kernel itself stays
  * ScalaTest-pinned.
  *
  * Index dirs are keyed by fixture basename PLUS an 8-hex md5 of the
  * canonical absolute path: two different datasets whose
  * directories are both named `sf0.01` (a regenerated or temp fixture)
  * must not overwrite each other's index, or the oracle would compare
  * against whatever run wrote last. The oracle SQL pins the one fixture
  * dir the driver ever verifies against ([[OracleFixtureDir]]), rendered
  * through the SAME [[dirKey]] the persist step uses; any other fixture
  * writes its own subdir and is never oracle-consulted.
  */
object IndexFrames {
  val Root = "/tmp/graft-index"

  /** The one fixture dir the driver runs the DuckDB oracle against. */
  val OracleFixtureDir = "/root/testdata/sf0.01"

  /** Collision-safe subdir key for a fixture dir: `basename-md5[0:8]` of
    * the canonical path (symlink/relative-path invariant, so the persist
    * call and the oracle render agree however the dir was spelled).
    */
  def dirKey(d: String): String = {
    val f = new java.io.File(d)
    val canon =
      try f.getCanonicalPath
      catch { case _: java.io.IOException => f.getAbsolutePath }
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${f.getName}-${md.substring(0, 8)}"
  }

  /** Per-process token: non-oracle fixtures write under a pid-scoped
    * subtree so two concurrent JVMs (parallel bench + verify, two test
    * runs) over the same fixture can never interleave an overwrite-delete
    * with the other's read-back. Only the pinned oracle
    * fixture keeps the stable path the oracle SQL renders.
    */
  private val procToken =
    s"pid-${java.lang.ProcessHandle.current.pid}"

  private def isOracleFixture(d: String): Boolean =
    dirKey(d) == dirKey(OracleFixtureDir)

  /** Persist `df` as the `name` index frame for fixture `d`, read it back.
    * The write runs at query-construction time — deliberate: Verify always
    * constructs before the driver's DuckDB pass reads the frame.
    *
    * Concurrency: non-oracle fixtures write under a
    * per-process subtree (no cross-JVM sharing is ever needed — the frame
    * is read back only by this session). The oracle fixture must keep the
    * exact path the oracle SQL pins, so it stages to a process-unique tmp
    * dir and swaps in with delete+rename — shrinking the exposed window
    * from the full parquet write to one directory swap.
    */
  def persist(df: DataFrame, d: String, name: String): DataFrame = {
    if (!isOracleFixture(d)) {
      val out = s"$Root/$procToken/${dirKey(d)}/$name"
      df.write.mode("overwrite").parquet(out)
      return df.sparkSession.read.parquet(out)
    }
    val out = s"$Root/${dirKey(d)}/$name"
    val tmp = s"$out.$procToken-${java.util.UUID.randomUUID.toString.take(8)}"
    df.write.mode("overwrite").parquet(tmp)
    val outF = new java.io.File(out)
    def rmTree(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rmTree)
      f.delete(); ()
    }
    rmTree(outF)
    if (!new java.io.File(tmp).renameTo(outF)) {
      // A concurrent session swapped its (identical-content) frame in
      // between our delete and rename — read the winner, drop our copy.
      rmTree(new java.io.File(tmp))
      require(outF.exists(), s"IndexFrames.persist: swap of $out failed")
    }
    df.sparkSession.read.parquet(out)
  }

  /** Parquet glob the oracle SQL reads — same [[dirKey]] as the persist
    * step, pinned to [[OracleFixtureDir]]. */
  def oraclePath(name: String): String =
    s"$Root/${dirKey(OracleFixtureDir)}/$name/*.parquet"
}
