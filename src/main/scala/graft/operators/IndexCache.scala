package graft.operators

import graft.Scratch.deleteQuietly
import org.apache.spark.sql.SparkSession

/** Process-wide memo of DETERMINISTIC quantizer fits plus their persisted
  * code indexes, for the ANN/lifecycle probes (s23–s27).
  *
  * Why this exists (bench protocol, BASELINE.md): those probes' per-run
  * cost was dominated by re-fitting seeded quantizers and rebuilding the
  * persisted index — which masked read-path regressions behind ~49 s of
  * probe-construction noise. Under the bench harness (one DISCARDED cold
  * run, then timed runs) memoizing the fit and the persisted index makes
  * the timed runs measure the SERVE path alone: exactly what production
  * does (fit once, serve many; [[Similarity.ivfIndexAppend]] is the
  * freeze-and-append regime built on that premise) and exactly what a
  * regression gate should watch.
  *
  * Correctness is untouched: every fit here is seeded and deterministic
  * (the [[Similarity.annQuantizers]] contract, sample sorted before the
  * driver-side Lloyd fit), so the memo returns bit-identical quantizers
  * to a fresh fit, and the persisted index is keyed on a fingerprint of
  * the fitted VALUES + [[Similarity.EncoderVersion]] (the ScaleSoak
  * cache-invalidation discipline: a fit change reshapes the fingerprint;
  * an encoder CODE change with identical fitted values bumps the
  * version — either way a stale index can never serve against
  * freshly-derived LUTs).
  */
object IndexCache {
  private val fits = new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def memo[T <: AnyRef](key: String)(f: => T): T =
    fits.computeIfAbsent(key, _ => f).asInstanceOf[T]

  private def emb(s: SparkSession, dir: String, normalized: Boolean) = {
    val e = graft.Tables.embeddings(s, dir)
    if (normalized) Similarity.l2Normalized(e) else e
  }

  /** Memoized [[Similarity.pqCodebooks]] over the RAW (un-normalized)
    * embeddings — the s24/s27 lifecycle configuration. (The r14-era
    * memos for the other trained fits — annQuantizers, pqCodebooksNorm,
    * sqBounds, opqQuantizers, annQuantizersOpqRotated — were deleted in
    * r15 when the s19/s20/s28/s29/s31/s32 probes moved to data-defined
    * quantizers with SQL oracles; the trained fits themselves live in
    * [[Similarity]] and stay golden-gated in SimilarityAsOfSpec, and
    * the fit/serve memo pattern they demonstrated survives here and in
    * [[persistedIndex]].) */
  def pqCodebooksRaw(s: SparkSession, dir: String)
      : Array[Array[Array[Double]]] =
    memo(s"pqraw:$dir") {
      Similarity.pqCodebooks(emb(s, dir, normalized = false), m = 8, ksub = 16)
    }

  /** MD5-hex fingerprint of fitted quantizer values + the encoder
    * version + the encode-rounding dial — the persisted-index cache key
    * component (ScaleSoak's fitFp, shared here so both caches
    * invalidate identically). `roundTo` MUST match what the index
    * builder passes to ivfAssign/pqEncode: identical fitted values
    * under roundTo = 6 vs -1 persist DIFFERENT centroid_id/pq_code
    * bytes, and a kind-string convention alone cannot stop a caller
    * from scoring one contract's codes against the other's LUTs. */
  def fitFingerprint(cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], roundTo: Int = -1): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(8)
    def put(d: Double): Unit = {
      bb.clear(); bb.putDouble(d); md.update(bb.array()); ()
    }
    md.update(Similarity.EncoderVersion.toByte)
    md.update(roundTo.toByte)
    cents.foreach(_.foreach(put))
    books.foreach(_.foreach(_.foreach(put)))
    md.digest().take(6).map("%02x".format(_)).mkString
  }

  /** Cheap source-dataset fingerprint: (relative path, length, mtime)
    * of every file under `path`, md5'd. The fit fingerprint alone
    * cannot catch a REGENERATED source whose bounded, sorted fit sample
    * happens to be unchanged (appended vectors sorting after the sample
    * leave fitFp identical while the index is missing rows) — the
    * cross-JVM cache key needs a component that moves with the data
    * itself. Relative paths (not leaf names) so a partition-directory
    * restructure with preserved mtimes still moves the key.
    *
    * Local-filesystem only BY DESIGN (this keys a /tmp bench cache) —
    * and enforced: a path java.io.File cannot see (URI-qualified,
    * remote scheme, typo) would otherwise hash to a CONSTANT and
    * silently defeat exactly the staleness protection this exists for.
    */
  private def dataFingerprint(path: String): String = {
    val root = new java.io.File(path)
    require(root.exists(),
      s"persistedIndex source '$path' is not a local path java.io.File " +
        "can stat — the data fingerprint would be constant and stale " +
        "indexes would serve silently")
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(f: java.io.File, rel: String): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
          .foreach(c => walk(c, s"$rel/${c.getName}"))
      else md.update(
        s"$rel:${f.length}:${f.lastModified}".getBytes("UTF-8"))
    walk(root, "")
    md.digest().take(6).map("%02x".format(_)).mkString
  }

  /** Persisted list-partitioned code index for (`kind`, `dir`, `fitFp`,
    * source-data fingerprint): built once (guarded by the parquet
    * `_SUCCESS` marker, so the cache survives across JVMs the way
    * ScaleSoak's does), then served by a plain partitioned scan — the
    * DPP-capable layout every indexed read path wants. `build` must
    * write partitionBy("centroid_id") parquet to the directory it is
    * given. Concurrent JVMs are safe: each builder writes a private
    * temp directory and atomically renames it into place; the loser of
    * the rename race discards its copy — no writer ever mutates a
    * directory another JVM may be reading or writing. That contract
    * extends to CORRUPT leftovers (a /tmp reaper ate `_SUCCESS` but left
    * data files): the repair promotes the fresh copy under a new
    * generation name (`…__r<uuid>`) rather than delete+rename over the
    * original path, which could yank files from under a JVM that
    * resolved the path before the marker vanished and is still scanning.
    * The corrupt directory stays inert — no `_SUCCESS` means it is never
    * served — and later calls REDISCOVER the promoted generation (the
    * lexicographically-first completed `__r` dir, so every JVM
    * converges), paying one rebuild per corruption event, never a
    * wrong or truncated read. Callers must treat the RETURNED path as
    * the index location (it is not always the deterministic base path).
    */
  def persistedIndex(kind: String, dir: String, fitFp: String)(
      build: String => Unit): String = {
    val idxDir = s"/tmp/graft_idxcache_${kind}_${fitFp}_" +
      s"${dataFingerprint(dir)}_" + dir.replaceAll("[^a-zA-Z0-9]", "_")
    def ok(p: String) = new java.io.File(p, "_SUCCESS").exists()
    // a corrupt base is never repaired in place, so later calls must
    // REDISCOVER the promoted generation — otherwise one corruption
    // event would cost a full rebuild (and leak a fresh __r dir) per
    // call forever; lexicographically-first completed generation wins
    // so every JVM converges on the same directory
    def repairGen(): Option[String] = {
      val base = new java.io.File(idxDir)
      val all = Option(base.getParentFile.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(base.getName + "__r"))
        .sortBy(_.getName)
      val gens = all.filter(f => ok(f.getPath))
      // when two JVMs race the repair, both promote a complete __r
      // generation but only the lexicographically-first is ever served
      // afterwards — losers (and generations whose own _SUCCESS was
      // later reaped) would leak full index dirs in /tmp indefinitely.
      // Sweep everything except the winner, past an age cutoff. Losers
      // are (almost) never served: the promotion path below re-runs
      // this rediscovery after promoting and serves the convergent
      // winner, so a loser is served only when its promoter's
      // rediscovery raced ahead of the winner's rename (a
      // milliseconds-wide window); the hour-long age gate covers that
      // residue — a loser would have to be both race-served AND still
      // scanning an hour later to be hurt, and the winner is never
      // deleted.
      val winner = gens.headOption.map(_.getName).getOrElse("")
      val cutoff = System.currentTimeMillis() - 60L * 60 * 1000
      all.filter(f => f.getName != winner && f.lastModified < cutoff)
        .foreach(f => deleteQuietly(f.getPath))
      gens.headOption.map(_.getPath)
    }
    if (ok(idxDir)) idxDir
    else repairGen().getOrElse {
      val tmp = new java.io.File(
        idxDir + "_build_" + java.util.UUID.randomUUID().toString)
      val served: String =
        try {
          build(tmp.getPath)
          if (tmp.renameTo(new java.io.File(idxDir)) || ok(idxDir)) idxDir
          else {
            // rename failed AND no _SUCCESS: a corrupt leftover occupies
            // the base path. Never mutate it in place — promote our
            // complete copy under a fresh generation name instead
            // (unless a racing JVM completed one in the meantime — serve
            // the convergent winner and discard ours).
            repairGen().getOrElse {
              val repair =
                idxDir + "__r" + java.util.UUID.randomUUID().toString
              if (tmp.renameTo(new java.io.File(repair))) {
                // re-rediscover AFTER promoting: if a racing JVM's
                // generation sorts first, serve that convergent winner
                // instead of our own — then losing generations are
                // never served (outside the ms-wide double-race
                // window) and the age-gated sweep is safe
                repairGen().getOrElse(repair)
              } else idxDir
            }
          }
        } finally deleteQuietly(tmp.getPath) // no-op after a successful rename
      // never serve a directory we cannot prove complete — fail loudly
      // instead of returning partial ANN results
      require(ok(served),
        s"persistedIndex could not produce a complete index at $served")
      served
    }
  }
}
