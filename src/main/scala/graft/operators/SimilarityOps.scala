package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Brute-force cosine top-K is CoreQueries.knnCosine (Q16) — the exact
  * baseline. This module adds the scale path:
  *
  *  - Random-hyperplane LSH: 8 signed projections → 8-bit bucket key.
  *    Probing the query's bucket plus all buckets within hamming-2
  *    bounds the scanned fraction to ~37/256 ≈ 14% of the corpus (at
  *    uniform load) — at 100 TB the bucket key is the shuffle/partition
  *    key and no full scan happens.
  *  - IVF (inverted file): coarse quantizer = deterministic sample of
  *    vectors as centroids; vectors assigned to nearest centroid;
  *    queries probe the nProbe nearest centroid lists.
  *
  * Both are deterministic so results are reproducible run to run, and
  * BOTH carry full DuckDB hash-match oracles: the LSH planes are
  * md5-derived integers over 1e6-quantized coordinates, and the IVF
  * training is exact integer arithmetic (integer-dot assignment,
  * floor-mean updates), so SQL reproduces the identical index.
  * SimilaritySpec additionally asserts recall vs the exact baseline.
  *
  * Literature: random-hyperplane signatures are Charikar's rounding
  * scheme (STOC 2002); the inverted-file coarse quantizer follows the
  * IVF stage of Jégou–Douze–Schmid (PAMI 2011).
  */
object SimilarityOps {

  val Dim: Int = graft.plans.HyperplaneSignature.Dim
  val NumPlanes: Int = graft.plans.HyperplaneSignature.NumPlanes
  val ProbeRadius = 2   // scan buckets within hamming-2 of the probe's
  val TopK = 5

  /** round(x·1e6) integer coordinates — the shared quantization of the
    * LSH and IVF index structures. Index CONSTRUCTION runs on these
    * exact integers (order-insensitive, retry-stable, SQL-oracle-
    * reproducible); the final serving similarity still uses the
    * original doubles. */
  def quantize(v: Column): Column =
    transform(v, x =>
      round(x * lit(graft.plans.HyperplaneSignature.Quant)).cast("long"))

  /** Signed-projection signature: bit p = [quantize(v) · plane_p > 0],
    * computed by the fused codegen HyperplaneSignature expression over
    * the quantized integer coordinates and md5-derived integer planes —
    * exact arithmetic, so the DuckDB oracle reproduces every bucket
    * bit-for-bit (and task retries can never flip a borderline sign). */
  def lshSignature(v: Column): Column = {
    call_function(graft.plans.GraftExpressions.HyperplaneFn, quantize(v))
  }

  /** ANN top-K against an arbitrary (vec_id, e: array<double>) frame —
    * scan only buckets within ProbeRadius of the probe's, then exact
    * cosine on the survivors.
    *
    * Recall characteristics (Charikar bounds): per plane, collision
    * prob = 1 − θ/π. For a REAL near-dup (cos ≥ 0.9, θ ≈ 26°) the
    * probe finds it within hamming-2 w.p. ≈ 0.97; on this fixture's
    * adversarially neighbor-free random vectors (max cos ≈ 0.37) the
    * same math gives ≈ 0.35 — low recall there is the data, not the
    * index, and SimilaritySpec proves the ≥ 0.9 case on planted
    * neighbors. */
  def annLshFrame(s: SparkSession, emb0: DataFrame,
                  probeId: Long = 0L): DataFrame = {
    import s.implicits._
    val emb = emb0.withColumn("bucket", lshSignature($"e"))
    val probe = emb.filter($"vec_id" === probeId)
      .select($"e".as("qe"), $"bucket".as("qb"))
    // multiprobe: hamming(bucket, query bucket) ≤ ProbeRadius — with 8
    // planes this scans ~37/256 ≈ 14% of buckets. (In a real index the
    // probed bucket keys join against a bucket-partitioned table; the
    // bit-trick filter here has identical candidate-set semantics.)
    emb.filter($"vec_id" =!= probeId)
      .crossJoin(broadcast(probe))
      .filter(bit_count($"bucket".bitwiseXOR($"qb")) <= ProbeRadius)
      .select($"vec_id", round(CoreQueries.cosine($"e", $"qe"), 4).as("sim"))
      .orderBy($"sim".desc, $"vec_id")
      .limit(TopK)
  }

  /** Bucket-partitioned serving index for a corpus dir: (vec_id, e)
    * partitioned BY the LSH bucket, written once and reused by every
    * probe — the materialized form of the signature computation. The
    * bucket is stored as INT (its domain is [0, 2^NumPlanes)), which is
    * also what parquet partition-value inference yields on read, so
    * probe joins hit the raw partition attribute (a cast there would
    * defeat partition pruning). */
  /** Content key for an index over `$d/$table`: names + sizes + mtimes
    * of the source files, so a corpus REGENERATED at the same path gets
    * a fresh index dir instead of silently serving from the old data.
    * `version` versions the index definition itself (planes /
    * quantization / training constants) — bump it if those change. */
  private[operators] def indexPath(s: SparkSession, d: String, table: String,
                                   kind: String, version: String,
                                   indexRoot: String): String =
    indexPathMulti(s, d, Seq(table), kind, version, indexRoot)

  /** Multi-table variant: an index derived from a JOIN (e.g. the
    * PageRank edge relation over lineitem ⋈ orders) keys on every
    * source table's listing, so regenerating ANY input invalidates. */
  /** The content-key listing: one `(part, fullPath)` per source file,
    * part = `table/name:len:mtime`, sorted by part. The part strings
    * feed the artifact signature AND the `_listing` metadata an
    * incremental refresh uses to recognize an append-base; the full
    * paths let the delta builder read EXACTLY the new files. */
  private[operators] def listingOf(s: SparkSession, d: String,
                                   tables: Seq[String]): Seq[(String, String)] = {
    val hconf = s.sparkContext.hadoopConfiguration
    tables.flatMap { table =>
      val srcPath = new org.apache.hadoop.fs.Path(s"$d/$table")
      val srcFs = srcPath.getFileSystem(hconf)
      srcFs.listStatus(srcPath).map(st =>
        (s"$table/${st.getPath.getName}:${st.getLen}:${st.getModificationTime}",
          st.getPath.toString))
    }.sortBy(_._1)
  }

  private[operators] def indexDirName(d: String, kind: String,
                                      version: String, sig: String): String = {
    val safe = d.replaceAll("[^A-Za-z0-9._-]", "_")
    s"graft-$kind-index-$safe-$version-$sig"
  }

  /** Sibling-scan prefix for findAppendBase: every artifact of this
    * (kind, corpus, version) family, any content signature. */
  private[operators] def indexPrefix(d: String, kind: String,
                                     version: String): String =
    indexDirName(d, kind, version, "")

  private[operators] def sigOf(parts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(parts.mkString("|").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  private[operators] def indexPathMulti(s: SparkSession, d: String,
                                        tables: Seq[String], kind: String,
                                        version: String,
                                        indexRoot: String): String = {
    val sig = sigOf(listingOf(s, d, tables).map(_._1))
    // indexRoot defaults to the local tmpdir for single-node runs; a
    // cluster deploy passes a shared filesystem path (e.g. an object-
    // store prefix) so executors and later sessions see the same index.
    new org.apache.hadoop.fs.Path(
      indexRoot, indexDirName(d, kind, version, sig)).toString
  }

  /** Incremental refresh (the ensureBm25Index discipline): the bucket
    * of a vector is a pure function of the vector and the FIXED
    * md5-derived planes — no trained state — so an append merges as
    * bag union: base bucket partition files carry over byte-for-byte,
    * only the delta vectors are hashed. (Contrast ensureIvfIndex,
    * which documents why IT must rebuild.) */
  def ensureAnnIndex(s: SparkSession, d: String,
                     indexRoot: String = sys.props("java.io.tmpdir")): String = {
    import s.implicits._
    val listing = listingOf(s, d, Seq("embeddings.parquet"))
    val parts = listing.map(_._1)
    val path = new org.apache.hadoop.fs.Path(indexRoot,
      indexDirName(d, "ann", "v2", sigOf(parts))).toString
    def signed(emb: DataFrame) = emb
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
      .withColumn("bucket", lshSignature($"e").cast("int"))
    ArtifactBuild.ensure(s, path, "_SUCCESS") { staging =>
      val fs = staging.getFileSystem(s.sparkContext.hadoopConfiguration)
      val base = ArtifactBuild.findAppendBase(s, indexRoot,
        indexPrefix(d, "ann", "v2"), parts, "_SUCCESS")
      val merged = base.isDefined && {
        val (bpath, bparts) = base.get
        val deltaPaths = listing.collect {
          case (part, full) if !bparts.contains(part) => full }
        ArtifactBuild.copyPiece(s, new org.apache.hadoop.fs.Path(bpath), staging)
        val deltaTmp = new org.apache.hadoop.fs.Path(staging.toString + "-delta")
        signed(s.read.parquet(deltaPaths: _*))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(deltaTmp.toString)
        ArtifactBuild.layerPartitioned(s, deltaTmp, staging, "delta")
        true
      }
      if (!merged)
        signed(Tables.embeddings(s, d))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(staging.toString)
      // (re)write the listing LAST: the carry-over copies the base's
      // _listing, which must not survive as this artifact's metadata
      ArtifactBuild.writeListing(fs, staging, parts)
    }
  }

  /** ANN top-K for one probe vector (vec_id 0), served from the
    * materialized index: the probe row explodes to its ProbeMasks
    * bucket keys (same candidate rule as annLshFrame) and equi-joins
    * the bucket-PARTITIONED index — dynamic partition pruning keeps the
    * index scan to the probed bucket directories, so a probe reads
    * ~|probed buckets|/2^NumPlanes of the corpus instead of recomputing
    * signatures corpus-wide. The probe's own signature is computed
    * in-plan from the raw table (pushdown-filtered single-row scan);
    * nothing is collected to the driver. */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = ArtifactBuild.readCached(s, ensureAnnIndex(s, d))
    val probe = Tables.embeddings(s, d)
      .filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>").as("qe"),
        lshSignature($"embedding".cast("array<double>")).as("qb"))
      .select($"qe", explode(array(ProbeMasks.map(m =>
        $"qb".bitwiseXOR(lit(m)).cast("int")): _*)).as("bucket"))
    idx.join(broadcast(probe), "bucket")
      .filter($"vec_id" =!= 0)
      .select($"vec_id", round(CoreQueries.cosine($"e", $"qe"), 4).as("sim"))
      .orderBy($"sim".desc, $"vec_id")
      .limit(TopK)
  }

  val KnnJoinQueries = 20L   // vec_id < 20 act as the query batch
  val KnnJoinK = 3

  /** XOR masks enumerating every bucket within ProbeRadius of a base
    * bucket — the SAME candidate-set rule annLsh's bit-count filter
    * applies, expressed as an explodable list so the batch path can
    * use an equi-join. (cb within hamming-r of bucket ⟺ cb = bucket
    * XOR m for a mask m with bit_count(m) ≤ r.) */
  private[graft] val ProbeMasks: Seq[Long] =
    (0L until (1L << NumPlanes))
      .filter(m => java.lang.Long.bitCount(m) <= ProbeRadius)

  /** Batch ANN — k-NN JOIN: top-k neighbors for EVERY query vector in
    * one plan, the shape that matters at corpus scale (per-query
    * serving loops don't). Each query explodes to the ProbeMasks
    * buckets (identical multiprobe radius — and therefore identical
    * recall math — to annLsh), then an EQUI-JOIN on the bucket key —
    * never a cross join — feeds exact cosine and a per-query
    * row_number. Work is proportional to probed-bucket occupancy; the
    * bucket is the shuffle key. A candidate's bucket is a single value
    * and the masks are distinct, so a (query, candidate) pair matches
    * at most one probe — no dedup step needed. */
  def knnJoin(s: SparkSession, d: String): DataFrame =
    knnJoinFrame(s, Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")))

  /** k-NN join over an arbitrary (vec_id, e) frame. `salts` > 1 turns
    * the bucket equi-join into SkewOps.saltedJoin on the bucket key:
    * candidate rows take a content-derived salt and probe rows
    * replicate per salt, so a HOT LSH BUCKET — real at 100 TB, where a
    * dense embedding region can put a large corpus fraction in one
    * bucket — spreads across `salts` reducers instead of saturating
    * one. Results are identical (the salt never reaches the ranking);
    * the default stays unsalted, which AQE's skew-join split already
    * covers for moderate skew. */
  def knnJoinFrame(s: SparkSession, emb0: DataFrame,
                   salts: Int = 1): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = emb0.withColumn("bucket", lshSignature($"e"))
    val probes = emb.filter($"vec_id" < KnnJoinQueries)
      .select($"vec_id".as("qid"), $"e".as("qe"),
        explode(array(ProbeMasks.map(m =>
          $"bucket".bitwiseXOR(lit(m))): _*)).as("pb"))
    val candSide = emb
      .select($"vec_id".as("cid"), $"e".as("ce"), $"bucket".as("pb"))
    val joined =
      if (salts <= 1) probes.join(candSide, "pb")
      else SkewOps.saltedJoin(candSide, probes, "pb", salts)
    val cands = joined
      .filter($"cid" =!= $"qid")
      .select($"qid", $"cid",
        round(CoreQueries.cosine($"qe", $"ce"), 4).as("sim"))
    cands
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"sim".desc, $"cid")))
      .filter($"rn" <= KnnJoinK)
      .select($"qid", $"rn".cast("long").as("rn"), $"cid", $"sim")
      .orderBy($"qid", $"rn")
  }

  val CentroidStep = 97   // vec_id ≡ 0 (mod 97) → ~n/97 seeds, ∝ corpus
  val KmeansIters = 2
  val NProbe = 4

  /** The quantization scale as an integer literal for oracle SQL —
    * interpolated so the SQL can never drift from quantize(). */
  private val QuantL: Long = graft.plans.HyperplaneSignature.Quant.toLong

  private def longDot(a: Column, b: Column): Column = {
    call_function(graft.plans.GraftExpressions.LongDotFn, a, b)
  }

  /** Nearest-centroid assignment by max INTEGER inner product (the
    * IVF-IP coarse-quantizer flavor), computed as a PER-ROW argmax
    * over the broadcast centroid list: the centroid table collapses to
    * one collect_list row (it is tiny by construction, ~n/97 entries),
    * and each vector takes `array_max` over (dot, -cid, cid) structs —
    * dot DESC, cid ASC on ties, the same order the previous struct-max
    * aggregate used. The assignment stage is thereby MAP-ONLY: the old
    * crossJoin → groupBy(vec_id) form pushed one row per (vector,
    * centroid) into a partial aggregate and re-shuffled one row per
    * vector EVERY Lloyd iteration — corpus-sized traffic that at 100 TB
    * is the training bottleneck, and at bench scale two scheduling
    * stages per iteration. The per-element dots run through the
    * interpreted `transform` lambda, but each lambda call is one fused
    * LongDotProduct over the 64-long quantized vector — the dispatch
    * overhead is per centroid, not per coordinate. Takes (vec_id, q)
    * ONLY: the double vectors never ride the training path. */
  private def assign(s: SparkSession, qv: DataFrame,
                     cents: DataFrame): DataFrame = {
    import s.implicits._
    val centsRow = cents.agg(collect_list(struct($"cid", $"c")).as("cs"))
    qv.crossJoin(broadcast(centsRow))
      .select($"vec_id", $"q",
        array_max(transform($"cs", c => struct(
          longDot($"q", c("c")).as("dot"),
          (-c("cid")).as("negCid"),
          c("cid").as("cid")))).getField("cid").as("cid"))
  }

  /** Trained coarse quantizer: modulo-sampled seeds refined with
    * Lloyd's iterations, entirely in exact integer arithmetic —
    * integer-dot assignment, floor(mean) centroid update on the
    * quantized coords. The centroid rebuild is ONE aggregate with a
    * fixed-width bank of per-dimension sums (Dim is a compile-time
    * constant): one shuffle per iteration carrying 64 long partials
    * per (mapper, centroid) — strictly less traffic and half the
    * stages of a posexplode → per-(cid, dim) mean → re-collect
    * rebuild, and still never a per-group collect of raw members.
    * Exactness makes training (and therefore the whole index)
    * deterministic run to run AND reproducible by the DuckDB oracle's
    * unrolled iterations. */
  def kmeansCentroids(s: SparkSession, qv: DataFrame,
                      iters: Int): DataFrame = {
    import s.implicits._
    var cents = qv.filter($"vec_id" % CentroidStep === 0)
      .select($"vec_id".as("cid"), $"q".as("c"))
    var i = 0
    while (i < iters) {
      cents = assign(s, qv, cents)
        .groupBy($"cid")
        .agg(array((0 until Dim).map(j =>
          floor(sum(element_at($"q", j + 1)) / count("*")).cast("long")): _*)
          .as("c"))
      i += 1
    }
    cents
  }

  /** The IVF index artifacts for a corpus dir, built ONCE (train +
    * assign leave the query path — the 100 TB shape, where training is
    * a periodic batch job and serving reads only probed lists):
    *  - `centroids/`: (cid, c: array<long>) — the trained coarse
    *    quantizer (kmeansCentroids' exact integer output, ~n/97 rows).
    *  - `assign/`: (vec_id) PARTITIONED BY cid — each vector's nearest
    *    centroid list; a probe's equi-join against the NProbe ranked
    *    cids partition-prunes to just those list directories.
    * Same staged-rename concurrency discipline as ensureAnnIndex:
    * private staging dir, exactly one rename wins, `assign/_SUCCESS`
    * is the completion marker (it is the LAST artifact written).
    *
    * Deliberately NOT incremental (unlike ann/bm25/phrase/dsir/
    * overlap/lm/cc): the trained centroids are a GLOBAL fixed point of
    * Lloyd iterations over the whole corpus — appending vectors moves
    * every centroid, so no merge of the old state reproduces the
    * full-corpus build bit-for-bit, and bit-equality with the one-shot
    * rebuild is this repo's incremental contract. The public
    * alternative (assign new vectors against the FROZEN quantizer —
    * how FAISS `add` after `train` behaves) is O(delta) but trades
    * recall drift for it and breaks the unrolled-Lloyd oracle; a
    * deploy that wants it can run `assign` over the frozen centroids
    * table and append to `assign/` itself. Periodic retrain is the
    * standard posture. (ensureIvfPqIndex and ensureRankIndex rebuild
    * for the same reason: PQ codebooks and PageRank's power iteration
    * are corpus-global.) */
  /** `assign/` with cid normalized to BIGINT regardless of what
    * partition-type inference produced for this corpus's directory
    * names (int while every seed id fits 32 bits, long beyond — see
    * the write-side comment in ensureIvfIndex). Centroids' cid is a
    * regular long data column and needs no normalization. */
  private[operators] def ivfAssign(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    ArtifactBuild.readCached(s, s"$root/assign")
      .select($"vec_id", $"cid".cast("long").as("cid"))
  }

  def ensureIvfIndex(s: SparkSession, d: String,
                     indexRoot: String = sys.props("java.io.tmpdir")): String = {
    import s.implicits._
    ArtifactBuild.ensure(s,
        indexPath(s, d, "embeddings.parquet", "ivf", "v1", indexRoot),
        "assign/_SUCCESS") { staging =>
      // one corpus scan+quantize feeds all Lloyd crossings AND the
      // final assignment (the annIvfInMemory checkpoint rationale)
      val qv = Tables.embeddings(s, d)
        .select($"vec_id", quantize($"embedding".cast("array<double>")).as("q"))
        .localCheckpoint(false)
      val cents = kmeansCentroids(s, qv, KmeansIters).localCheckpoint(true)
      cents.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(staging, "centroids").toString)
      // cid is a seed vec_id, so it inherits the KEY's magnitude — a
      // 64-bit id space overflows any int cast (the 25× sweep caught
      // exactly that at copy 24: cid 2400001645 > Int.MaxValue). It is
      // a partition column, so its read-back type comes from directory
      // -name inference (int while every value fits, long beyond);
      // every consumer normalizes to BIGINT via ivfAssign/long casts,
      // which keeps the probe equi-join type-stable at any scale while
      // DPP still applies (pruning accepts any join key referencing
      // only partition columns).
      assign(s, qv, cents)
        .select($"vec_id", $"cid")
        .write.mode("overwrite").partitionBy("cid")
        .parquet(new org.apache.hadoop.fs.Path(staging, "assign").toString)
    }
  }

  /** x12 — IVF ANN served from the MATERIALIZED index: centroid
    * ranking reads the tiny trained table, the probed cids broadcast
    * into an equi-join against the cid-PARTITIONED assignment table
    * (dynamic partition pruning → only the NProbe list directories are
    * read), and exact cosine runs on the probed lists' members only.
    * Training (the 6-job Lloyd chain) happens once at index build and
    * never again on the query path. Results are identical to
    * annIvfInMemory — training math is exact integer arithmetic — so
    * the unrolled-Lloyd DuckDB oracle validates THIS entry too. */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = ensureIvfIndex(s, d)
    val cents = ArtifactBuild.readCached(s, s"$root/centroids")
    val assigned = ivfAssign(s, root)
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val probe = emb.filter($"vec_id" === 0).select($"e".as("qe"))
    val probeQ = Tables.embeddings(s, d).filter($"vec_id" === 0)
      .select(quantize($"embedding".cast("array<double>")).as("qq"))
    val probeCids = cents.crossJoin(broadcast(probeQ))
      .select($"cid", longDot($"c", $"qq").as("dot"))
      .orderBy($"dot".desc, $"cid").limit(NProbe)
      .select($"cid".cast("long").as("cid"))
    val candidates = assigned.filter($"vec_id" =!= 0)
      .join(broadcast(probeCids), "cid")
      .select($"vec_id")
    emb.join(broadcast(candidates), "vec_id")
      .crossJoin(broadcast(probe))
      .select($"vec_id", round(CoreQueries.cosine($"e", $"qe"), 4).as("sim"))
      .orderBy($"sim".desc, $"vec_id")
      .limit(TopK)
  }

  /** IVF trained and served inside ONE plan — the ad-hoc one-shot form
    * (and the equivalence witness for the materialized index): vectors
    * assigned to their nearest trained centroid; a query probes only
    * the NProbe nearest centroid lists (integer-dot ranking), then
    * exact double cosine on the probed lists' members. The trained
    * centroid table (tiny: ~n/97 rows) is materialized once with
    * localCheckpoint — it is referenced from several subplans, and the
    * non-broadcast references would otherwise re-run the whole
    * training chain per reference. */
  def annIvfInMemory(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    // Materialize scan+quantize ONCE (the lmLikelihood/dedupBlocks
    // checkpoint pattern): qv feeds every Lloyd crossing plus the final
    // assignment and probe branches, and without the checkpoint each of
    // those references re-derives it from lineage — re-running the
    // corpus scan and the 64-coordinate quantize per iteration, the
    // bulk of training time both here and on a real cluster.
    val qv = emb.select($"vec_id", quantize($"e").as("q"))
      .localCheckpoint(false)
    val cents = kmeansCentroids(s, qv, KmeansIters).localCheckpoint(true)
    val assigned = assign(s, qv, cents)
    val probe = emb.filter($"vec_id" === 0).select($"e".as("qe"))
    val probeQ = qv.filter($"vec_id" === 0).select($"q".as("qq"))
    // centroid lists to probe for the query — ranked by integer dot
    val probeCids = cents.crossJoin(broadcast(probeQ))
      .select($"cid", longDot($"c", $"qq").as("dot"))
      .orderBy($"dot".desc, $"cid").limit(NProbe)
      .select($"cid")
    // candidate ids (probed lists only) broadcast against the corpus:
    // the double vectors are read once here, never during training
    val candidates = assigned.filter($"vec_id" =!= 0)
      .join(broadcast(probeCids), "cid")
      .select($"vec_id")
    emb.join(broadcast(candidates), "vec_id")
      .crossJoin(broadcast(probe))
      .select($"vec_id", round(CoreQueries.cosine($"e", $"qe"), 4).as("sim"))
      .orderBy($"sim".desc, $"vec_id")
      .limit(TopK)
  }

  // ---- IVF-PQ (x38): product-quantized residuals over the IVF lists ----

  /** PQ subspaces: the 64-dim residual splits into PqM blocks of PqSub. */
  val PqM = 8
  val PqSub: Int = Dim / PqM
  /** Codebook seeds: the first PqK multiples of PqSeedStep present —
    * a deterministic, SQL-reproducible stand-in for per-subspace
    * k-means (the codebook TRAINING quality is not the contract; the
    * encode/ADC/rerank algebra is). 16 codewords = 4-bit PQ, a
    * standard public configuration. */
  val PqSeedStep = 7
  val PqK = 16
  /** ADC-ranked candidates retrieved before the exact rerank. */
  val PqCandidates = 20

  /** Integer squared L2 between two equal-length long arrays — the
    * exact arithmetic both the encoder and the ADC tables share (and
    * DuckDB reproduces): residual coords are ≤ ~4e6, so the summed
    * square is ≤ ~1.3e14 — safely inside BIGINT. */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** The IVF-PQ index artifacts (Jégou–Douze–Schmid PAMI 2011: encode
    * each vector's RESIDUAL from its coarse centroid with a product
    * quantizer; serve by asymmetric distance computation over probed
    * lists, then exact rerank). Built ONCE on top of ensureIvfIndex:
    *  - `codebook/`: (m, code, cw: array<long>) — PqK codewords per
    *    subspace, the residual subvectors of the seed rows.
    *  - `codes/`: (vec_id, codes: array<int>) PARTITIONED BY cid —
    *    each vector compressed to PqM 4-bit codes (the 100 TB memory
    *    trade: 8 bytes/vector instead of 512, scanned per probe).
    * Same staged-rename/content-key discipline as every other index;
    * `codes/_SUCCESS` (the last write) is the completion marker. */
  def ensureIvfPqIndex(s: SparkSession, d: String,
                       indexRoot: String = sys.props("java.io.tmpdir")): String = {
    import s.implicits._
    ArtifactBuild.ensure(s,
        indexPath(s, d, "embeddings.parquet", "ivfpq", "v1", indexRoot),
        "codes/_SUCCESS") { staging =>
      val ivf = ensureIvfIndex(s, d, indexRoot)
      val cents = ArtifactBuild.readCached(s, s"$ivf/centroids")
        .select($"cid", $"c")
      val assigned = ivfAssign(s, ivf)
      // residuals r = q − c(cid): one corpus scan, feeds the codebook
      // AND the encoder (checkpointed — the x13/x33 shared-base rule)
      val res = Tables.embeddings(s, d)
        .select($"vec_id", quantize($"embedding".cast("array<double>")).as("q"))
        .join(assigned, "vec_id")
        .join(broadcast(cents), "cid")
        .select($"vec_id", $"cid", zip_with($"q", $"c", (a, b) => a - b).as("r"))
        .localCheckpoint(false)
      res.filter($"vec_id" % PqSeedStep === 0 &&
          $"vec_id" < PqSeedStep.toLong * PqK)
        .select($"vec_id".cast("int").as("code"),
          posexplode(transform(sequence(lit(0), lit(PqM - 1)),
            m => slice($"r", m * PqSub + 1, lit(PqSub)))).as(Seq("m", "cw")))
        .select($"m", $"code", $"cw")
        .write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(staging, "codebook").toString)
      // encode: per subspace, the codeword with min integer L2 (ties →
      // smaller code — array_min's lexicographic struct order)
      val cbRow = s.read
        .parquet(new org.apache.hadoop.fs.Path(staging, "codebook").toString)
        .agg(collect_list(struct($"m", $"code", $"cw")).as("cb"))
      res.crossJoin(broadcast(cbRow))
        .select($"vec_id", $"cid",
          transform(sequence(lit(0), lit(PqM - 1)), m =>
            array_min(transform(
              filter($"cb", e => e.getField("m") === m),
              e => struct(
                sqDist(slice($"r", m * PqSub + 1, lit(PqSub)),
                  e.getField("cw")).as("d"),
                e.getField("code").as("code"))))
              .getField("code")).as("codes"))
        .write.mode("overwrite").partitionBy("cid")
        .parquet(new org.apache.hadoop.fs.Path(staging, "codes").toString)
    }
  }

  /** x38 — IVF-PQ ANN, served from the materialized codes: the probe
    * ranks coarse centroids (x12's rule), builds the per-probed-list
    * ADC lookup tables (NProbe × PqM × PqK rows — broadcastable at any
    * corpus size), scans ONLY the probed lists' codes (partition
    * pruning on cid), sums table lookups into each candidate's
    * asymmetric distance, and exactly reranks the PqCandidates best by
    * true double cosine. Everything before the rerank is exact integer
    * arithmetic, so the DuckDB oracle reproduces codes, ADC sums, and
    * the final ranking bit-for-bit. */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = ensureIvfPqIndex(s, d)
    val cents = ArtifactBuild.readCached(s, s"${ensureIvfIndex(s, d)}/centroids")
    val cb = ArtifactBuild.readCached(s, s"$root/codebook")
    val codes = ArtifactBuild.readCached(s, s"$root/codes")
      .withColumn("cid", $"cid".cast("long"))
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val probe = emb.filter($"vec_id" === 0).select($"e".as("qe"))
    val probeQ = Tables.embeddings(s, d).filter($"vec_id" === 0)
      .select(quantize($"embedding".cast("array<double>")).as("qq"))
    val probeCids = cents.crossJoin(broadcast(probeQ))
      .select($"cid", longDot($"c", $"qq").as("dot"))
      .orderBy($"dot".desc, $"cid").limit(NProbe)
      .select($"cid".cast("long").as("cid"))
    // per-probed-list query residual, then the ADC lookup tables
    val qres = cents.select($"cid".cast("long").as("cid"), $"c")
      .join(broadcast(probeCids), "cid").crossJoin(broadcast(probeQ))
      .select($"cid", zip_with($"qq", $"c", (a, b) => a - b).as("qr"))
    val adcTab = qres.crossJoin(broadcast(cb))
      .select($"cid", $"m", $"code",
        sqDist(slice($"qr", $"m" * PqSub + 1, lit(PqSub)), $"cw").as("d"))
    // probed lists only (partition-pruned), one lookup row per (vec, m)
    val adc = codes.join(broadcast(probeCids), "cid")
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"cid", posexplode($"codes").as(Seq("m", "code")))
      .join(broadcast(adcTab), Seq("cid", "m", "code"))
      .groupBy($"vec_id").agg(sum($"d").as("adc"))
      .orderBy($"adc".asc, $"vec_id").limit(PqCandidates)
    emb.join(broadcast(adc), "vec_id")
      .crossJoin(broadcast(probe))
      .select($"vec_id", $"adc",
        round(CoreQueries.cosine($"e", $"qe"), 4).as("sim"))
      .orderBy($"sim".desc, $"vec_id")
      .limit(TopK)
  }

  /** Quantization levels for the SQ8 codes ([0, 255] per coordinate). */
  val SqLevels = 255L
  /** Candidates retrieved by quantized dot before the exact rerank. */
  val SqCandidates = 20

  /** x31 — SCALAR-QUANTIZED ANN (faiss's SQ8 flavor): each coordinate
    * compresses to an 8-bit code via per-dimension min/max scaling —
    * 4× less memory/bandwidth than float32, the memory-bound lever of
    * corpus-scale vector search — then retrieval runs two-stage:
    * top-`SqCandidates` by the cosine of the DEQUANTIZED vectors
    * (decoded from the codes alone — the scan a real deployment runs
    * over its 64 B/vector codes table, carrying quantization error
    * only), then an exact double-cosine rerank of the survivors from
    * the full vectors.
    *
    * Oracle-exactness: the per-dim stats are min/max aggregates of
    * IEEE doubles; the code formula (floor) and the reconstruction
    * mn + (c + 0.5)·(mx − mn)/(levels+1) are written with identical
    * operation order on both engines, so every estimated cosine is
    * bit-identical (the q16/x06 raw-cosine precedent) and the
    * candidate sets cannot drift.
    *
    * Scale shape: the stats row broadcasts (Dim structs); encoding is
    * a narrow map; candidate selection is a TakeOrderedAndProject over
    * the code scan; the rerank touches `SqCandidates` full vectors
    * only. */
  def annSq8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val stats = emb.select(posexplode($"e").as(Seq("i", "x")))
      .groupBy($"i").agg(min($"x").as("mn"), max($"x").as("mx"))
      .agg(array_sort(collect_list(struct($"i", $"mn", $"mx"))).as("st"))
    // Encode + mid-rise decode FUSED in one lambda: the double value
    // goes through the exact floored integer code (so the arithmetic
    // is identical to materializing the codes table and decoding it —
    // which is what a deployment does; the oracle builds recon from
    // its codes CTE the same way). Fused deliberately: a separate
    // `codes` projection feeding a second transform gets inlined by
    // CollapseProject into every element access of the consumer
    // lambda — re-evaluating the 64-iteration encode per coordinate,
    // O(Dim²) interpreted work per row (measured 5× the whole query).
    val reconExpr = expr(
      s"""transform(sequence(0, ${Dim - 1}), i ->
         |  CASE WHEN st[i].mx = st[i].mn THEN st[i].mn
         |  ELSE st[i].mn +
         |    (CAST(least(${SqLevels}L, greatest(0L,
         |       CAST(floor((e[i] - st[i].mn) * $SqLevels.0D
         |                  / (st[i].mx - st[i].mn)) AS BIGINT))) AS DOUBLE)
         |     + 0.5D) * (st[i].mx - st[i].mn) / ${SqLevels + 1}.0D END)"""
        .stripMargin)
    // the one-row stats frame feeds both the probe and candidate
    // branches — materialize its posexplode+groupBy once (the
    // lmLikelihood model-checkpoint pattern) instead of re-running the
    // corpus-wide stats aggregate per branch
    val coded = emb.crossJoin(broadcast(stats.localCheckpoint(false)))
      .select($"vec_id", $"e", reconExpr.as("r"))
    val probe = coded.filter($"vec_id" === 0)
      .select($"e".as("qe"), $"r".as("qr"))
    val cands = coded.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(probe))
      .select($"vec_id", $"e", $"qe",
        round(CoreQueries.cosine($"r", $"qr"), 4).as("est_sim"))
      .orderBy($"est_sim".desc, $"vec_id").limit(SqCandidates)
    cands
      .select($"vec_id", $"est_sim",
        round(CoreQueries.cosine($"e", $"qe"), 4).as("sim"))
      .orderBy($"sim".desc, $"vec_id").limit(TopK)
  }

  /** Semantic-dup bar: cluster-mates at round(cos, 4) ≥ this are
    * duplicates (the same near-dup bar x05 uses, so the two operators'
    * verdicts are comparable on the same corpus). */
  val SemTau = 0.4

  /** x42 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication INSIDE the trained coarse-quantizer clusters. Every
    * vector joins its x12 cluster (the materialized IVF index — the
    * clustering is shared with serving, trained once); within each
    * cluster, pairs at cosine ≥ SemTau are duplicates, and each pair
    * KEEPS the member farther from the centroid (the paper's
    * keep-low-centroid-similarity rule: outliers carry the cluster's
    * diversity), measured by the exact integer dot of the quantized
    * vector with the integer centroid — ties keep the lower vec_id.
    * Output is the full per-vector verdict (cluster, centroid dot,
    * kept), i.e. the curation decision a pipeline applies as a
    * semi-join.
    *
    * Scale shape: pairwise work is confined to clusters (~CentroidStep
    * members each — the k ∝ n seeding bounds cluster size, which is
    * the whole point of SemDeDup vs all-pairs), the tiny centroid
    * table broadcasts, the self-join shuffles both sides on cid
    * identically (one exchange, reused), and the verdict join on
    * vec_id is a hash join — no collect, no cross product. The member
    * frame (two joins over the corpus) is localCheckpointed once and
    * feeds both self-join sides and the final verdict, instead of
    * re-deriving the corpus scan three times. */
  def semDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = ensureIvfIndex(s, d)
    val cents = ArtifactBuild.readCached(s, s"$root/centroids")
    val assigned = ivfAssign(s, root)
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val mem = assigned
      .join(emb, "vec_id")
      .join(broadcast(cents), "cid")
      .select($"vec_id", $"cid", $"e",
        longDot(quantize($"e"), $"c").as("cdot"))
      .localCheckpoint(false)
    val m1 = mem.select($"cid", $"vec_id".as("va"), $"e".as("ea"),
      $"cdot".as("da"))
    val m2 = mem.select($"cid", $"vec_id".as("vb"), $"e".as("eb"),
      $"cdot".as("db"))
    val drops = m1.join(m2, "cid")
      .filter($"va" < $"vb" &&
        round(CoreQueries.cosine($"ea", $"eb"), 4) >= SemTau)
      .select(when($"da" < $"db", $"vb")
        .when($"db" < $"da", $"va")
        .otherwise($"vb").as("vec_id"))
      .distinct()
    mem.join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select($"vec_id", $"cid", $"cdot", $"dropped".isNull.as("kept"))
      .orderBy($"vec_id")
  }

  /** Per-cluster quota for x63 (a deploy sizes this to the corpus
    * reduction it wants: kept fraction ≈ Q · k / n). */
  val ClusterCapQ = 8

  /** x63 — CLUSTER-CAP sampling: cap every semantic cluster at Q
    * PROTOTYPES — the members most similar to their centroid (cdot
    * DESC, vec_id tie-break). The quota complements x42: SemDeDup
    * removes redundant near-twins inside a cluster, the cap bounds the
    * cluster's total contribution no matter how internally diverse it
    * is — the "semantic diversification" step of cluster-based data
    * pruning (the D4 recipe pairs exactly these two; prototype
    * selection per bucket is the SSL-prototypes rule of Sorscher et
    * al. 2022). Emits the full per-vector verdict (cluster, centroid
    * dot, rank, kept) like x42, so a pipeline applies it as a
    * semi-join.
    *
    * Scale shape: the SAME materialized x12 index provides clusters
    * (trained once, shared with serving/x42); the corpus-scale work is
    * one broadcast join against the centroid table plus ONE exchange
    * on cid for the per-cluster rank window — cluster sizes are
    * bounded by the k ∝ n seeding, so no partition outgrows its
    * executor at any corpus size.
    *
    * Oracle-exactness: cdot is the exact BIGINT quantized dot (x42's
    * measure), the rank an integer window in both engines. */
  def clusterCap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val root = ensureIvfIndex(s, d)
    val cents = ArtifactBuild.readCached(s, s"$root/centroids")
    val assigned = ivfAssign(s, root)
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    assigned
      .join(emb, "vec_id")
      .join(broadcast(cents), "cid")
      .select($"vec_id", $"cid", longDot(quantize($"e"), $"c").as("cdot"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"cid").orderBy($"cdot".desc, $"vec_id")).cast("long"))
      .withColumn("kept", $"rk" <= ClusterCapQ)
      .orderBy($"vec_id")
  }

  /** Projected dimensionality for the random projection — the ONE
    * definition lives with the fused expression. */
  val RpK: Int = graft.plans.SignedProjection.K

  /** The ±1 sign matrix [k][j] — md5-derived, DATA-independent (a
    * pure function of the coordinates, like the LSH planes), so both
    * engines rebuild it bit-identically and shipping it is free: it
    * is a query literal, not a broadcast of anything computed. View
    * of the expression-side matrix (specs recompute norms from it). */
  private[graft] lazy val rpSigns: Seq[Seq[Double]] =
    graft.plans.SignedProjection.Signs.map(_.toSeq).toSeq

  /** x50 — sparse random projection (Johnson–Lindenstrauss; ±1 signs
    * per Achlioptas, JCSS 2003): embed the Dim-dimensional vectors
    * into RpK dimensions with a data-independent sign matrix —
    * the standard cheap precursor to ANN at corpus scale (shorter
    * vectors ⇒ cheaper distance evaluations and smaller indexes,
    * with JL-bounded distortion). E[‖y‖²] = ‖x‖²·RpK under signs, so
    * norms (and pairwise distances) survive in expectation — the spec
    * pins the concentration on the fixture.
    *
    * Oracle-exactness: each output coordinate is a FIXED-ORDER
    * left-to-right dot product of doubles (the q16 precedent —
    * Spark's aggregate∘zip_with and DuckDB's list_dot_product
    * accumulate identically), ROUNDed to 6; the sign matrix derives
    * from md5 in both engines.
    *
    * Scale shape: ONE narrow map — no shuffle, no stats pass, no
    * join; the matrix rides the plan as a literal. Output is the
    * exploded (vec_id, k, p) relation so downstream operators (and
    * the oracle hash) see scalar columns. */
  /** Frame form: (vec_id, e: array<double>) → (vec_id, y: the RpK-dim
    * projection) — the composable piece ANN pipelines consume. ONE
    * fused codegen loop (SignedProjection) producing all RpK
    * coordinates per row; the r14 transform∘aggregate∘zip_with HOF
    * form cost K·Dim interpreted lambda evals per vector and was the
    * whole of x50's flagged 25× growth (adjudicated r15: linear
    * output, superlinear-LOOKING wall was a giant per-row constant —
    * see dev/sweeps/r15 notes). Arithmetic identical, oracle
    * unchanged. */
  def projectFrame(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select($"vec_id",
      call_function(graft.plans.GraftExpressions.SignedProjFn, $"e").as("y"))
  }

  def randomProjection(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    projectFrame(Tables.embeddings(s, d)
        .select($"vec_id", $"embedding".cast("array<double>").as("e")))
      .select($"vec_id", posexplode($"y"))
      .select($"vec_id", $"pos".cast("long").as("k"), $"col".as("p"))
      .orderBy($"vec_id", $"k")
  }

  /** MMR rerank-window and selection sizes. M bounds the pool the
    * diversifier sees (the serve-then-rerank split every production
    * retrieval stack uses); K is the emitted slate. Both constants, so
    * the rerank is O(M² + KM) regardless of corpus size. */
  val MmrPoolM = 50
  val MmrK = 10

  /** x60 — MMR (maximal-marginal-relevance) diverse top-K (Carbonell &
    * Goldberg, SIGIR 1998): greedily pick argmax of
    * λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s) with λ = ½ — the ½ is a
    * positive scalar on both terms, so the argmax sequence is identical
    * to maximizing rel − maxsim and the arithmetic stays the plain
    * difference of two ROUND(·,4) cosines. The slate answers the
    * curation question plain top-K cannot: "the K most relevant
    * NON-REDUNDANT examples" (diverse few-shot pools, eval-set
    * sampling, near-dup-aware retrieval).
    *
    * Scale shape: the corpus-scale work is ONE narrow relevance scan
    * (broadcast query row, fused codegen cosine) ending in a
    * TakeOrdered(M) — no shuffle of vectors, no corpus pairwise. Only
    * the M-row pool is ever paired (M² = 2500 sims, broadcast
    * self-join), and the inherently-sequential greedy runs driver-side
    * over that CONSTANT-size matrix — the selection is K dependent
    * argmaxes, not a distributable relation. At 100 TB the pool would
    * come from the x06/x12 index instead of the exact scan; the rerank
    * is unchanged.
    *
    * Oracle-exactness: rel and sim are the q16 fixed-order cosines
    * ROUNDed to 4 — bitwise identical in both engines — and the greedy
    * only subtracts and compares those doubles (IEEE-identical), with
    * (score DESC, vec_id ASC) tie-break; DuckDB replays the selection
    * as a recursive CTE. Rank 1's score is its relevance (S = ∅, the
    * maxsim term vanishes). */
  def mmrDiversity(s: SparkSession, d: String): DataFrame =
    mmrDiversityFrame(s, Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")))

  /** Frame form over (vec_id, e: array<double>) — composable with the
    * ANN serving paths (feed any candidate frame as the pool source). */
  def mmrDiversityFrame(s: SparkSession, emb: DataFrame,
                        probeId: Long = 0L): DataFrame = {
    import s.implicits._
    val q = emb.filter($"vec_id" === probeId).select($"e".as("qe"))
    val pool = emb.filter($"vec_id" =!= probeId)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"e",
        round(CoreQueries.cosine($"e", $"qe"), 4).as("rel"))
      .orderBy($"rel".desc, $"vec_id")
      .limit(MmrPoolM)
      .localCheckpoint(false)   // feeds the self-join AND both collects
    val a = pool.select($"vec_id".as("va"), $"e".as("ea"))
    val b = pool.select($"vec_id".as("vb"), $"e".as("eb"))
    val sims = a.join(broadcast(b), $"va" =!= $"vb")
      .select($"va", $"vb", round(CoreQueries.cosine($"ea", $"eb"), 4).as("sim"))
      .as[(Long, Long, Double)].collect()
      .map { case (x, y, v) => (x, y) -> v }.toMap
    val rels = pool.select($"vec_id", $"rel").as[(Long, Double)].collect()
      .sortBy { case (id, r) => (-r, id) }
    // the greedy: maxsim per candidate grows monotonically as the
    // slate grows, so one incremental max per pick suffices
    val maxsim = scala.collection.mutable.Map.empty[Long, Double]
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double)]
    var remaining = rels.toBuffer
    for (rank <- 1 to math.min(MmrK, rels.length)) {
      val (id, rel, score) =
        if (rank == 1) { val (i, r) = remaining.head; (i, r, r) }
        else remaining.map { case (i, r) => (i, r, r - maxsim(i)) }
          .minBy { case (i, _, sc) => (-sc, i) } match { case t => t }
      picked += ((rank.toLong, id, rel, score))
      remaining = remaining.filterNot(_._1 == id)
      remaining.foreach { case (c, _) =>
        val sv = sims((c, id))
        maxsim(c) = maxsim.get(c).fold(sv)(math.max(_, sv))
      }
    }
    picked.toSeq.toDF("rank", "vec_id", "rel", "score")
  }

  /** Centers selected by the k-center greedy (seed included). */
  val KCenterK = 8

  /** x61 — greedy k-center (farthest-first traversal; Gonzalez, TCS
    * 1985 — the 2-approximation every coreset pipeline uses, e.g.
    * Sener & Savarese's core-set active learning, ICLR 2018): from the
    * deterministic seed (vec 0), repeatedly pick the vector FARTHEST
    * from the current centers (max over candidates of min cosine
    * distance to the slate; min-dist ≡ 1 − max-sim, so the state is
    * one running max-sim per vector). The emitted `dist` is the pick's
    * distance at selection time — the classic non-increasing coverage-
    * radius certificate (after k picks, every vector lies within
    * dist_k of a center). This is the selection rule for "K examples
    * that SPAN the corpus" — pruning/diversity sampling — where MMR
    * (x60) answers relevance-to-a-query.
    *
    * Scale shape: K − 1 passes, each ONE narrow map (fused cosine
    * against the single newly-picked center, broadcast 1-row) updating
    * the running max-sim, then a partial-combined argmin
    * (min(struct(ms, vec_id))) — no pairwise corpus join, no shuffle
    * of vectors; state lineage is truncated per step (the x12 Lloyd
    * pattern). Driver holds only the K picked scalars.
    *
    * Oracle-exactness: sims are the q16 fixed-order ROUND(·,4)
    * cosines; dist = 1 − maxsim is one IEEE subtraction; the argmin
    * tie-breaks (ms, vec_id) lexicographically in both engines. The
    * seed row's dist is NULL (no prior centers). */
  def kcenterCoreset(s: SparkSession, d: String): DataFrame =
    kcenterFrame(s, Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")))

  /** Frame form over (vec_id, e: array<double>). */
  def kcenterFrame(s: SparkSession, emb: DataFrame,
                   seedId: Long = 0L): DataFrame = {
    import s.implicits._
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Double])](
      (1L, seedId, None))
    def centerRow(id: Long) =
      emb.filter($"vec_id" === id).select($"e".as("ce"))
    // running max-sim of every candidate to the slate; one narrow
    // update per pick, lineage truncated so step k's plan stays O(1)
    var st = emb.filter($"vec_id" =!= seedId)
      .crossJoin(broadcast(centerRow(seedId)))
      .select($"vec_id", $"e",
        round(CoreQueries.cosine($"e", $"ce"), 4).as("ms"))
      .localCheckpoint(false)
    for (rank <- 2 to KCenterK) {
      val Row(ms: Double, id: Long) = st
        .agg(min(struct($"ms", $"vec_id")).as("t"))
        .select($"t.ms", $"t.vec_id").head()
      picked += ((rank.toLong, id, Some(1.0 - ms)))
      if (rank < KCenterK)
        st = st.filter($"vec_id" =!= id)
          .crossJoin(broadcast(centerRow(id)))
          .select($"vec_id", $"e",
            greatest($"ms", round(CoreQueries.cosine($"e", $"ce"), 4)).as("ms"))
          .localCheckpoint(false)
    }
    picked.toSeq.toDF("rank", "vec_id", "dist")
  }

  /** Candidate-pool oversampling factor for x61b: the sampled twin
    * draws KCenterOversample·K pool vectors before the exact
    * farthest-first runs on the pool. */
  val KCenterOversample = 8

  /** 2^52 — the 13-hex-char md5-prefix uniform's denominator (the x49
    * A-Res idiom). */
  private val Kc52 = 4503599627370496.0

  /** x61b — the SCALE-SAFE production twin of x61 (the x13b/x35b/x70b
    * twin discipline). Exact Gonzalez farthest-first is K−1 sequential
    * full-corpus passes by algorithmic necessity — the one `weak`
    * 100 TB path left in the registry — so the production form is
    * k-means‖-style oversampling (Bahmani et al., VLDB 2012):
    *
    *  1. ONE corpus pass draws an M = KCenterOversample·K candidate
    *     pool, sampled ∝ squared seed-distance (the k-means‖ weight),
    *     realized as the x49 A-Res bounded top-M — priority ln(u)/w,
    *     u the deterministic md5-prefix uniform — so the pool size is
    *     fixed BY CONSTRUCTION (TakeOrderedAndProject: M rows per
    *     partition cross the wire, no global sort, and the driver
    *     collect is M = 64 vectors, the MMR constant-pool precedent).
    *  2. The exact farthest-first runs ON THE POOL, driver-local,
    *     with x61's own ROUND-4 cosine and (maxsim, vec_id) argmin
    *     tie-break.
    *  3. ONE more corpus pass CERTIFIES the slate: `coverage` is the
    *     true corpus-wide coverage radius of the chosen centers (max
    *     over vectors of min distance to a center), computed as a
    *     narrow K-way least() map feeding one max aggregate — no
    *     shuffle of vectors, no join, centers are K inlined literals.
    *
    * 2 corpus passes total, independent of K, vs exact x61's K−1.
    * KCenterTwinSpec pins the certificate against the exact x61
    * slate's own corpus radius (sampled ≤ 2× exact on the fixture)
    * and pins the pass shape (pool plan = one scan + bounded top-M;
    * served plan = one scan, zero vector joins). */
  def kcenterCoresetSampled(s: SparkSession, d: String): DataFrame =
    kcenterSampledFrame(s, Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")))

  /** The bounded A-Res candidate pool (step 1) — exposed for the
    * pass-shape pin. */
  def kcenterPool(s: SparkSession, emb: DataFrame, seedId: Long,
                  seedVec: Array[Double]): DataFrame = {
    import s.implicits._
    emb.filter($"vec_id" =!= seedId)
      .select($"vec_id", $"e",
        pow(lit(1.0) - round(CoreQueries.cosine($"e",
          typedLit(seedVec.toSeq)), 4), 2).as("w"),
        ((conv(substring(md5(concat(lit("kc_"), $"vec_id")), 1, 13), 16, 10)
          .cast("long") + 1L) / Kc52).as("u"))
      .filter($"w" > 0.0)   // exact seed-dups are covered at radius 0
      .select($"vec_id", $"e", (log($"u") / $"w").as("key"))
      .orderBy($"key".desc, $"vec_id")
      .limit(KCenterOversample * KCenterK)
  }

  /** The corpus coverage-radius certificate (step 3) for an arbitrary
    * center slate — exposed so KCenterTwinSpec can score the exact
    * x61 slate with the identical arithmetic. */
  def kcenterCoverage(s: SparkSession, emb: DataFrame,
                      centers: Seq[Array[Double]]): DataFrame = {
    import s.implicits._
    val minDist = least(centers.map(c =>
      lit(1.0) - round(CoreQueries.cosine($"e", typedLit(c.toSeq)), 4)): _*)
    emb.agg(max(minDist).as("coverage"))
  }

  /** Frame form over (vec_id, e: array<double>). */
  def kcenterSampledFrame(s: SparkSession, emb: DataFrame,
                          seedId: Long = 0L): DataFrame = {
    import s.implicits._
    val seedVec = emb.filter($"vec_id" === seedId)
      .select($"e").head().getSeq[Double](0).toArray
    // driver-local ROUND-4 cosine: same accumulation order as the
    // fused CosineSimilarity expression, same HALF_UP rounding as
    // round(·, 4), so pool distances are bitwise the corpus ones
    def rcos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val pool = kcenterPool(s, emb, seedId, seedVec)
      .select($"vec_id", $"e").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // exact farthest-first on the bounded pool — x61's selection rule
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Double])](
      (1L, seedId, None))
    val centers = scala.collection.mutable.ArrayBuffer[Array[Double]](seedVec)
    var st = pool.map { case (id, v) => (id, v, rcos(v, seedVec)) }
    for (rank <- 2 to KCenterK if st.nonEmpty) {
      val best = st.minBy(t => (t._3, t._1))
      picked += ((rank.toLong, best._1, Some(1.0 - best._3)))
      centers += best._2
      st = st.filter(_._1 != best._1)
        .map { case (id, v, m0) => (id, v, math.max(m0, rcos(v, best._2))) }
    }
    // the certificate stays LAZY: the served frame's plan IS the one
    // coverage scan (pinned by KCenterTwinSpec), cross-joined onto the
    // K driver-local slate rows (single-row broadcast frame)
    picked.toSeq.toDF("rank", "vec_id", "dist")
      .crossJoin(kcenterCoverage(s, emb, centers.toSeq))
      .orderBy($"rank")
  }

  // ---- bitext mining: margin-scored cross-lingual pair extraction -------

  /** Neighborhood size for the margin normalizer and the pair cut. */
  val BitextK = 3
  val BitextTopM = 20

  /** x65 — margin-based bitext mining (Artetxe & Schwenk, ACL 2019 —
    * the "ratio" margin that built CCMatrix/WikiMatrix): from two
    * sides of a corpus (label parity stands in for the two languages),
    * extract the top candidate translation pairs scored by
    *   margin(x,y) = cos(x,y) / (mean_k cos(x, NN_B(x))/2 +
    *                             mean_k cos(y, NN_A(y))/2)
    * — raw cosine over-selects hub vectors; dividing by the two
    * neighborhoods' average similarity cancels hubness, which is why
    * every large-scale parallel-corpus pipeline scores pairs this way.
    *
    * Scale shape: candidates come from ONE LSH-bucket equi-join (the
    * x22 multiprobe mask explode — never A×B), checkpointed once and
    * feeding BOTH directions' k-NN windows (the candidate relation is
    * symmetric because bucket hamming distance is). The margin
    * normalizers are integer sums over ≤k rows per vector; the joins
    * back to pairs are id-equi-joins over |A|·k bounded frames; the
    * final cut is a bounded top-M (TakeOrderedAndProject).
    *
    * Oracle-exactness: cosines round to 4; the neighborhood sums ride
    * 1e4-scaled BIGINTs (order-free); each denominator half is one
    * double division of exact integers, their sum is one IEEE add in
    * written order, and the final margin rounds to 6 — DuckDB
    * reproduces every double bitwise. */
  def bitextMining(s: SparkSession, d: String): DataFrame =
    bitextFrame(s, Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e")))

  /** Frame form over (vec_id, label, e: array<double>).
    *
    * Scale shape: the quadratic candidate relation is NEVER
    * materialized or sorted. Each candidate pair fans out to its two
    * directed (key, dir) rows map-side and flows straight into ONE
    * bounded-heap graft_topk aggregation (plans/TopKAggregate.scala):
    * partial heaps combine map-side, so the single shuffle carries at
    * most BitextK entries per (vector, direction) — O(|A|+|B|) rows —
    * regardless of how many candidate pairs the bucket join produced.
    * (The previous form localCheckpointed all candidate pairs — growth
    * ∝ copies² — and ran two full rank-window sorts over them; at 5×
    * data that was 20.5× wall. TopKAggregateSpec pins heap ≡ window.)
    * The per-key neighborhood sums (sa/sb) fall out of the same k-entry
    * arrays, and the bounded hoods frame — not the pair relation — is
    * the only thing checkpointed for reuse by both branches. */
  def bitextFrame(s: SparkSession, emb0: DataFrame): DataFrame = {
    import s.implicits._
    val emb = emb0.withColumn("bucket", lshSignature($"e"))
    // The probe side carries the compute-bound stage (37-mask explode +
    // per-candidate cosine + partial top-K): its parallelism is the
    // SOURCE partitioning, and a small corpus read as one parquet split
    // would run the whole quadratic-ish stage on ONE task. Explicit
    // repartition (exempt from AQE coalescing) costs one tiny shuffle
    // of the vector rows and restores full-width execution; on a real
    // cluster the many-file scan already provides it and the shuffle is
    // a cheap no-op by comparison with the stage it widens.
    val par = math.max(s.sessionState.conf.numShufflePartitions,
      s.sparkContext.defaultParallelism)
    val a = emb.filter($"label" % 2 === 0).repartition(par, $"vec_id")
    val b = emb.filter($"label" % 2 === 1)
    // multiprobe: A explodes to its hamming-≤r bucket masks, B joins
    // on the bucket key — each (a,b) pair matches at most one mask
    val probes = a.select($"vec_id".as("aid"), $"e".as("ae"),
      explode(array(ProbeMasks.map(m =>
        $"bucket".bitwiseXOR(lit(m))): _*)).as("pb"))
    val cands = probes
      .join(b.select($"vec_id".as("bid"), $"e".as("be"),
        $"bucket".as("pb")), "pb")
      .select($"aid", $"bid",
        round(CoreQueries.cosine($"ae", $"be"), 4).as("sim"))
    // both directions' k-NN neighborhoods from ONE pass over the
    // candidates: tag each pair (key=aid,dir=0,other=bid) and
    // (key=bid,dir=1,other=aid), bounded-heap top-K per (key, dir).
    // Heap order (score DESC, id ASC) ≡ the window's (sim DESC, id).
    val tagged = cands.select(explode(array(
        struct($"aid".as("key"), lit(0).as("dir"),
          $"bid".as("oid"), $"sim"),
        struct($"bid".as("key"), lit(1).as("dir"),
          $"aid".as("oid"), $"sim"))).as("r"))
      .select($"r.key", $"r.dir", $"r.oid", $"r.sim")
    val hoods = tagged.groupBy($"key", $"dir")
      .agg(call_function(graft.plans.GraftExpressions.TopKFn,
        $"sim", $"oid", lit(BitextK)).as("top"),
        // per-key candidate fan-in, carried through the checkpoint so
        // the work-unit observe below survives plan truncation (an
        // observe on the candidate relation itself would sit under the
        // LogicalRDD and never reach the harvest listener)
        count(lit(1)).as("ncand"))
      // neighborhood normalizer: 1e4-scaled integer sum over ≤k
      // entries, bitwise-reproducible in any accumulation order
      .withColumn("ssum", expr(
        "aggregate(top, 0L, (acc, x) -> " +
        "acc + CAST(round(x.score * 10000.0, 0) AS BIGINT))"))
      .withColumn("n", size($"top").cast("long"))
      .localCheckpoint(false)   // bounded: ≤ (|A|+|B|) rows × k entries
    // in-job candidate-volume denominator: the top-M OUTPUT is bounded
    // and the scored-pair relation is top-K bounded per key, so neither
    // tracks the operator's real work — the cosine-scored candidate
    // fan-in does. Each candidate pair contributes exactly one dir=0
    // row to its aid's hood count, so Σ ncand over dir=0 ≡ |candidates|
    val fwd = hoods.filter($"dir" === 0)
      .observe("x65_candidates", sum($"ncand").as("rows"))
    val bwd = hoods.filter($"dir" === 1)
      .select($"key".as("bid"), $"ssum".as("sb"), $"n".as("nb"))
    val pairs = fwd.select($"key".as("aid"), $"ssum".as("sa"),
        $"n".as("na"), explode($"top").as("t"))
      .select($"aid", $"t.id".as("bid"), $"t.score".as("sim"),
        $"sa", $"na")
    // every bid in a forward pair has a backward neighborhood (the
    // candidate relation is symmetric: x probes y ⟺ y probes x), so
    // the inner join loses no pairs
    pairs.join(bwd, "bid")
      .select($"aid".as("src_id"), $"bid".as("tgt_id"), $"sim",
        round($"sim" /
          ($"sa" / (lit(2.0) * $"na" * lit(1e4)) +
           $"sb" / (lit(2.0) * $"nb" * lit(1e4))), 6).as("margin"))
      // in-job work-unit counter: the OUTPUT is top-M bounded, so the
      // sweep-ladder denominator for this operator is the SCORED-pair
      // relation (grows with the corpus's neighborhood fan-out)
      .observe("x65_scored_pairs", count(lit(1)).as("rows"))
      .orderBy($"margin".desc, $"src_id", $"tgt_id")
      .limit(BitextTopM)
  }

  // ---- hard-negative mining (x69) ---------------------------------------

  /** Anchors for contrastive-pair mining: the first HardNegQueries
    * vec_ids (the x22 query-batch convention). */
  val HardNegQueries = 8L
  /** Negatives returned per anchor. */
  val HardNegK = 5
  /** Similarity cap: a candidate at/over the corpus near-dup threshold
    * (DedupOps.CosineThreshold — the x05 rule) is a POSITIVE for the
    * anchor, not a negative; hard negatives sit strictly below it. */
  val HardNegCap: Double = DedupOps.CosineThreshold

  /** x69 — HARD-NEGATIVE mining for contrastive training: for each
    * anchor vector, the K most-similar candidates that are NOT
    * near-duplicates of it — the "hard" negatives that make a
    * contrastive objective informative (random negatives are too easy;
    * near-dups are false negatives). The mining rule follows the
    * ANCE/retriever-training recipe: retrieve by ANN, drop everything
    * at/over the dedup threshold, keep the top-K of what remains.
    *
    * Composes two existing serving structures and adds NO new state:
    * candidates come from the materialized IVF index (per-anchor
    * probed cells, the x12 probe) and the positive/negative boundary
    * is the corpus's own near-dup threshold (x05's CosineThreshold) —
    * so the negatives are consistent BY CONSTRUCTION with what the
    * dedup pipeline would have merged.
    *
    * Scale shape: per-anchor centroid ranking streams the anchor
    * batch past the BROADCAST trained centroid table (bounded by
    * construction); the candidate fetch is the x12 probe equi-join
    * (broadcast by AQE while the probed cells are small — hence
    * dynamic partition pruning over the probed cid list directories —
    * keyed shuffle past the adaptive threshold); the per-anchor top-K is a
    * bounded aggregate over probed-list members. No corpus scan
    * beyond the probed lists, no all-pairs anything. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val anchorIds = Tables.embeddings(s, d)
      .filter($"vec_id" < HardNegQueries).select($"vec_id".as("qid"))
    hardNegativesFor(s, d, anchorIds, HardNegK).orderBy($"qid", $"rn")
  }

  /** The x69/x72 mining core over an ARBITRARY anchor-id frame (qid):
    * per-anchor IVF probe, dup-capped cosine, per-anchor rank.
    * Unordered — callers order their own presentation.
    *
    * Join strategy: the anchor-derived frames (`anchorIds`, the probed
    * cells, the qe-carrying `anchors`) grow with the anchor count, and
    * `candidates` with anchors × probed-list size, so none carries a
    * hint: AQE broadcasts each from its measured size at run time and
    * shuffles on its keys once it outgrows the adaptive threshold. The
    * one CROSS join (per-anchor centroid ranking) broadcasts the
    * CENTROID side — bounded BY CONSTRUCTION (NClusters rows) — and
    * streams the anchor batch, so its hint is safe at any anchor
    * count. */
  private def hardNegativesFor(s: SparkSession, d: String,
                               anchorIds: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val root = ensureIvfIndex(s, d)
    val cents = ArtifactBuild.readCached(s, s"$root/centroids")
    val assigned = ivfAssign(s, root)
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("e"))
    val anchors = emb.join(anchorIds.select($"qid"), emb("vec_id") === col("qid"))
      .select($"qid", $"e".as("qe"), quantize($"e").as("qq"))
    // per-anchor probed cells: integer-dot rank of the trained table.
    // The BROADCAST side is the centroid table (bounded by
    // construction); the anchor batch STREAMS, so this cross join
    // needs no cap at all. The per-anchor top-NProbe runs as the
    // bounded graft_topk aggregate, NOT a row_number window: the
    // window form pushed every (anchor × centroid) row — anchors ×
    // n/97, quadratic-ish in corpus size at x72's anchor counts —
    // through a full exchange + sort, while the heap aggregate merges
    // map-side and ships NProbe entries per anchor (guide §2.3/§2.4;
    // each anchor's centroid rows are produced by one broadcast-join
    // partition, so the partial IS the final answer). Heap order
    // (score DESC, id ASC) ≡ the window's (dot DESC, cid ASC) —
    // TopKAggregateSpec pins it — and the long→double score cast is
    // exact: |dot| ≤ Dim·(Quant·|coord|)² ≈ 2e13 « 2^53 on unit-scale
    // embedding coords. Only the probed-cid SET flows on, so the
    // rank itself was never used. Each anchor's vector rides along
    // (`first` — it is one value per qid), so the cosine below needs no
    // second join back to the anchors. NProbe (4) is above
    // TopKSmallPairs.MaxK (3), so this graft_topk is the heap
    // aggregate, planned as an ObjectHashAggregate: it stays hash-based
    // only under GraftSession's sortBased.fallbackThreshold of 1000000.
    // At Spark's default of 128 it falls back to a sort-based
    // aggregate once a partition holds more than 128 anchors.
    val probeCids = anchors.crossJoin(broadcast(cents))
      .select($"qid", $"qe", $"cid".cast("long").as("cid"),
        longDot($"c", $"qq").cast("double").as("dot"))
      .groupBy($"qid")
      .agg(call_function(graft.plans.GraftExpressions.TopKFn,
        $"dot", $"cid", lit(NProbe)).as("top"), first($"qe").as("qe"))
      .select($"qid", $"qe", explode($"top.id").as("cid"))
    // probed cells are few rows, and AQE coalesces their stage to one
    // partition; spread over every core (an explicit width AQE keeps),
    // they fan the candidate and cosine work out instead of running it
    // in one task (x72 at 5×)
    val candidates = Tables.rebalance(probeCids)
      .join(assigned, "cid")
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"qe", $"vec_id")
    // per-anchor top-K via the bounded graft_topk aggregate instead of
    // a rank window: the window SORTS every candidate row per anchor
    // partition, while the aggregate keeps k entries per anchor with
    // map-side partial merge — at x72's anchor counts (every dup-pair
    // endpoint) the candidate relation is millions of rows and the
    // sort was the dominant cost. Heap order (score DESC, id ASC)
    // ≡ the window's (sim DESC, vec_id) — equivalence pinned in
    // TopKAggregateSpec; x72's k=3 rides the codegen declarative
    // route, x69's k=5 the bounded heap.
    candidates.join(emb, "vec_id")
      .select($"qid", $"vec_id",
        round(CoreQueries.cosine($"e", $"qe"), 4).as("sim"))
      .filter($"sim" < HardNegCap)
      .groupBy($"qid")
      .agg(call_function(graft.plans.GraftExpressions.TopKFn,
        $"sim", $"vec_id", lit(k)).as("top"))
      .select($"qid", posexplode($"top"))
      .select($"qid", ($"pos" + 1).cast("long").as("rn"),
        $"col.id".as("vec_id"), $"col.score".as("sim"))
  }

  /** Negatives per triplet anchor (each anchor fans out to its
    * positives × these). */
  val TripletNegK = 3

  /** x72 — CONTRASTIVE TRIPLET assembly: the full (anchor, positive,
    * negative) training-example relation for contrastive/embedding
    * fine-tuning. Positives are the corpus's own near-dup verdicts
    * (x05's pairs, both directions — the pair the dedup pipeline says
    * means the same thing); negatives are x69's dup-capped IVF-probed
    * hard negatives FOR EXACTLY THOSE anchors. The cap (the same
    * near-dup threshold that admits the positives) guarantees no
    * false negatives by construction — the standard failure mode of
    * in-batch negative sampling that mined triplets exist to fix.
    *
    * Scale shape: the positive relation is the x05 bucketed
    * candidates-then-verify join (bounded output, materialized once
    * and reused for both directions and the anchor set); the anchor
    * set it induces —
    * every dup-pair endpoint — grows with the corpus's TRUE dup-pair
    * count, so no anchor-proportional join in the chain carries a
    * hint, the final positives × negatives join (`negs` = anchors × K
    * rows) included: AQE broadcasts them while they are small and
    * shuffles on qid once they are not (rows equal under
    * `autoBroadcastJoinThreshold=-1`, spec-pinned). Total work (and output) is
    * proportional to the dup-pair count times K — inherent to
    * emitting a triplet per positive; the materialized triplet count
    * is self-reported in-job via `observe` (metric
    * `x72_contrastive_triplets`) so sweep adjudication gets its
    * per-row denominator without a second run. */
  def contrastiveTriplets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // materialized, so building x72 runs x05's stages: the anchor set
    // reads the pairs without `sim`, so AQE cannot reuse the pairs'
    // exchange for it, and without this x05's cosine stage (15M
    // candidates on the 5× corpus) ran twice: x72 took 18.4–19.1 s
    // there without it and 16.8 s with it, before the rebalance in
    // hardNegativesFor (the counted-pins sweep under dev/sweeps/, notes)
    val pairs = DedupOps.dedupEmbedding(s, d).localCheckpoint(false)
    val pos = pairs
      .select($"va".as("qid"), $"vb".as("pos_id"), $"sim".as("sim_pos"))
      .unionAll(pairs
        .select($"vb".as("qid"), $"va".as("pos_id"), $"sim".as("sim_pos")))
    val negs =
      hardNegativesFor(s, d, pos.select($"qid").distinct(), TripletNegK)
    pos.join(negs, "qid")
      .select($"qid".as("anchor_id"), $"pos_id", $"sim_pos",
        $"rn", $"vec_id".as("neg_id"), $"sim".as("sim_neg"))
      .observe("x72_contrastive_triplets", count(lit(1)).as("rows"))
      .orderBy($"anchor_id", $"pos_id", $"rn")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x06_ann_lsh"  -> annLsh _,
    "x12_ann_ivf"  -> annIvf _,
    "x22_knn_join" -> knnJoin _,
    "x31_ann_sq8"  -> annSq8 _,
    "x38_ann_ivfpq" -> annIvfPq _,
    "x42_dedup_semantic" -> semDedup _,
    "x50_random_projection" -> randomProjection _,
    "x60_mmr_diversity" -> mmrDiversity _,
    "x61_kcenter_coreset" -> kcenterCoreset _,
    // rows-only registered (the x13b sketch-twin convention): the
    // A-Res draw + pool Gonzalez has no tractable SQL twin; the
    // correctness contract is KCenterTwinSpec's coverage certificate
    // against the exact x61 slate
    "x61b_kcenter_sampled" -> kcenterCoresetSampled _,
    "x63_cluster_cap" -> clusterCap _,
    "x65_bitext_margin" -> bitextMining _,
    "x69_hard_negatives" -> hardNegatives _,
    "x72_contrastive_triplets" -> contrastiveTriplets _,
  )

  /** One Lloyd iteration as DuckDB CTEs: integer-dot assignment
    * (row_number = the struct-max's dot DESC, cid ASC order) then
    * floor-mean centroid update — the same exact integer arithmetic
    * the Spark side performs, so the trained index is identical. */
  private def ivfIterCtes(idx: Int, prev: String): String =
    s"""a$idx AS (SELECT vec_id, cid, q FROM (
       |  SELECT v.vec_id, c.cid, v.q,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY list_dot_product(v.q, c.c) DESC, c.cid) AS rn
       |  FROM qv v CROSS JOIN $prev c) WHERE rn = 1),
       |m$idx AS (SELECT cid, i.range AS pos,
       |    CAST(floor(sum(q[i.range + 1]) / count(*)) AS BIGINT) AS v
       |  FROM a$idx, range($Dim) i GROUP BY 1, 2),
       |c$idx AS (SELECT cid, list(v ORDER BY pos) AS c FROM m$idx GROUP BY cid)"""
      .stripMargin

  /** Shared oracle CTE chain computing each vector's LSH bucket —
    * planes, quantized coords, integer dots, signature. ONE definition
    * feeding both the x06 and x22 oracles (same anti-drift convention
    * as DedupOps.ShingleBaseCtes and ivfIterCtes below). */
  private[operators] def sigCtes: String = sigCtesNamed("")

  /** Suffixed variant for oracles that must combine the signature chain
    * with ivfTrainCtes in one WITH (both define a `qv`): every CTE name
    * gets the suffix, the final one being `sig$sfx`. */
  private[operators] def sigCtesNamed(sfx: String): String =
    s"""planes$sfx AS (
       |  SELECT p.range AS p, i.range AS i,
       |    ('0x' || substr(md5('p_' || p.range || '_' || i.range), 1, 8))::BIGINT
       |      % 1001 - 500 AS w
       |  FROM range($NumPlanes) p, range($Dim) i),
       |qv$sfx AS (
       |  SELECT vec_id, i.range AS i,
       |    CAST(round(embedding[i.range + 1]::DOUBLE * $QuantL, 0) AS BIGINT) AS q
       |  FROM embeddings, range($Dim) i),
       |dots$sfx AS (
       |  SELECT vec_id, p, sum(q * w) AS dot
       |  FROM qv$sfx JOIN planes$sfx USING (i) GROUP BY 1, 2),
       |sig$sfx AS (
       |  SELECT vec_id,
       |    CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT)
       |      AS bucket
       |  FROM dots$sfx GROUP BY 1)""".stripMargin

  /** ALL ANN queries have FULL oracles: every index-construction step
    * (md5-derived planes, 1e6 quantization, integer dots, floor-mean
    * k-means) is exact integer arithmetic reproducible in SQL, so
    * DuckDB recomputes identical buckets/centroids/candidate sets and
    * the same final cosine top-K. The x12 oracle unrolls the
    * KmeansIters(=2) Lloyd iterations as CTE pairs. */
  val oracleSql: Map[String, String] = Map(
    // x60: the greedy replayed as a single-row-state recursive CTE —
    // each iteration LATERALs the argmax (score DESC, vec_id ASC) over
    // the not-yet-picked pool, score = rel − max(sim to slate); rel and
    // sim are the q16 fixed-order cosines ROUNDed to 4, so the doubles
    // (and hence every comparison) are bitwise identical to Spark's.
    "x60_mmr_diversity" ->
      s"""WITH RECURSIVE
        |qv AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
        |pool AS (
        |  SELECT e.vec_id, e.embedding::DOUBLE[] AS e,
        |    ROUND(list_dot_product(e.embedding::DOUBLE[], q.qe) /
        |      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(q.qe, q.qe))), 4) AS rel
        |  FROM embeddings e, qv q
        |  WHERE e.vec_id <> 0
        |  ORDER BY rel DESC, e.vec_id LIMIT $MmrPoolM),
        |sims AS (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |    ROUND(list_dot_product(a.e, b.e) /
        |      (sqrt(list_dot_product(a.e, a.e)) *
        |       sqrt(list_dot_product(b.e, b.e))), 4) AS sim
        |  FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
        |state AS (
        |  (SELECT 1 AS step, vec_id, rel, rel AS score, [vec_id] AS sel
        |   FROM pool ORDER BY rel DESC, vec_id LIMIT 1)
        |  UNION ALL
        |  SELECT s.step + 1, c.vec_id, c.rel, c.score,
        |    list_append(s.sel, c.vec_id)
        |  FROM state s, LATERAL (
        |    SELECT p.vec_id, p.rel,
        |      p.rel - (SELECT max(sim) FROM sims
        |               WHERE a = p.vec_id AND list_contains(s.sel, b)) AS score
        |    FROM pool p WHERE NOT list_contains(s.sel, p.vec_id)
        |    ORDER BY score DESC, p.vec_id LIMIT 1) c
        |  WHERE s.step < $MmrK)
        |SELECT CAST(step AS BIGINT) AS rank, vec_id, rel, score
        |FROM state ORDER BY rank""".stripMargin,
    // x61: farthest-first replayed as the same single-row-state
    // recursive CTE shape as x60 — each iteration LATERALs the argmin
    // of running max-sim (ms ASC, vec_id ASC) over the unpicked
    // corpus; dist = 1 − ms is one IEEE subtraction on the identical
    // ROUND(·,4) doubles. Seed row (vec 0) carries NULL dist.
    "x61_kcenter_coreset" ->
      s"""WITH RECURSIVE
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |state AS (
        |  SELECT 1 AS step, CAST(0 AS BIGINT) AS vec_id,
        |         CAST(NULL AS DOUBLE) AS dist, [CAST(0 AS BIGINT)] AS sel
        |  UNION ALL
        |  SELECT s.step + 1, c.vec_id, 1.0 - c.ms,
        |    list_append(s.sel, c.vec_id)
        |  FROM state s, LATERAL (
        |    SELECT p.vec_id,
        |      (SELECT max(ROUND(list_dot_product(p.e, c0.e) /
        |        (sqrt(list_dot_product(p.e, p.e)) *
        |         sqrt(list_dot_product(c0.e, c0.e))), 4))
        |       FROM v c0 WHERE list_contains(s.sel, c0.vec_id)) AS ms
        |    FROM v p WHERE NOT list_contains(s.sel, p.vec_id)
        |    ORDER BY ms, p.vec_id LIMIT 1) c
        |  WHERE s.step < $KCenterK)
        |SELECT CAST(step AS BIGINT) AS rank, vec_id, dist
        |FROM state ORDER BY rank""".stripMargin,
    // x50: the sign matrix rebuilt from the same md5 parity rule; each
    // coordinate is the same fixed-order dot product, rounded to 6.
    "x50_random_projection" ->
      s"""SELECT vec_id, CAST(k AS BIGINT) AS k, p FROM (
         |  SELECT vec_id,
         |    unnest(range(0, $RpK)) AS k,
         |    unnest(list_transform(range(0, $RpK), kk ->
         |      round(list_dot_product(embedding::DOUBLE[],
         |        list_transform(range(0, $Dim), j ->
         |          CASE WHEN ('0x' || substr(md5('rp_' || j || '_' || kk),
         |                     1, 1))::BIGINT % 2 = 0
         |               THEN 1.0 ELSE -1.0 END)), 6))) AS p
         |  FROM embeddings)
         |ORDER BY vec_id, k""".stripMargin,
    "x31_ann_sq8" ->
      s"""WITH st AS (
        |  SELECT i.range AS i, min(embedding[i.range + 1]::DOUBLE) AS mn,
        |         max(embedding[i.range + 1]::DOUBLE) AS mx
        |  FROM embeddings, range($Dim) i GROUP BY 1),
        |cd AS (
        |  SELECT e.vec_id, st.i AS i, st.mn AS mn, st.mx AS mx,
        |    CASE WHEN st.mx = st.mn THEN CAST(0 AS BIGINT)
        |    ELSE least($SqLevels, greatest(0,
        |      CAST(floor((e.embedding[st.i + 1]::DOUBLE - st.mn) * $SqLevels.0
        |                 / (st.mx - st.mn)) AS BIGINT))) END AS code
        |  FROM embeddings e, st),
        |recon AS (
        |  SELECT vec_id,
        |    list(mn + (code + 0.5) * (mx - mn) / ${SqLevels + 1}.0
        |         ORDER BY i) AS r
        |  FROM cd GROUP BY vec_id),
        |probe AS (SELECT c.r AS qr, e.embedding::DOUBLE[] AS qe
        |          FROM recon c JOIN embeddings e USING (vec_id)
        |          WHERE c.vec_id = 0),
        |cands AS (
        |  SELECT c.vec_id,
        |    ROUND(list_dot_product(c.r, p.qr) /
        |      (sqrt(list_dot_product(c.r, c.r)) *
        |       sqrt(list_dot_product(p.qr, p.qr))), 4) AS est_sim,
        |    e.embedding::DOUBLE[] AS e, p.qe AS qe
        |  FROM recon c JOIN embeddings e USING (vec_id), probe p
        |  WHERE c.vec_id <> 0
        |  ORDER BY est_sim DESC, c.vec_id LIMIT $SqCandidates)
        |SELECT vec_id, est_sim,
        |  ROUND(list_dot_product(e, qe) /
        |    (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 4)
        |    AS sim
        |FROM cands ORDER BY sim DESC, vec_id LIMIT $TopK""".stripMargin,
    "x06_ann_lsh" ->
      s"""WITH $sigCtes,
        |probe AS (
        |  SELECT e.embedding::DOUBLE[] AS qe, s.bucket AS qb
        |  FROM embeddings e JOIN sig s USING (vec_id) WHERE e.vec_id = 0)
        |SELECT e.vec_id,
        |  ROUND(list_dot_product(e.embedding::DOUBLE[], probe.qe) /
        |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(probe.qe, probe.qe))), 4) AS sim
        |FROM embeddings e JOIN sig s ON s.vec_id = e.vec_id, probe
        |WHERE e.vec_id <> 0 AND bit_count(xor(s.bucket, probe.qb)) <= $ProbeRadius
        |ORDER BY sim DESC, e.vec_id LIMIT $TopK""".stripMargin,
    "x22_knn_join" ->
      s"""WITH $sigCtes,
        |probes AS (
        |  SELECT s.vec_id AS qid, e.embedding::DOUBLE[] AS qe,
        |    xor(s.bucket, r.range) AS pb
        |  FROM sig s JOIN embeddings e USING (vec_id),
        |       range(${1L << NumPlanes}) r
        |  WHERE s.vec_id < $KnnJoinQueries
        |    AND bit_count(r.range) <= $ProbeRadius),
        |cands AS (
        |  SELECT p.qid,
        |    c.vec_id AS cid,
        |    ROUND(list_dot_product(p.qe, c.embedding::DOUBLE[]) /
        |      (sqrt(list_dot_product(p.qe, p.qe)) *
        |       sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))),
        |      4) AS sim
        |  FROM probes p
        |  JOIN sig cs ON cs.bucket = p.pb
        |  JOIN embeddings c ON c.vec_id = cs.vec_id
        |  WHERE cs.vec_id <> p.qid)
        |SELECT qid, rn, cid, sim FROM (
        |  SELECT qid, cid, sim,
        |    CAST(row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, cid) AS BIGINT) AS rn
        |  FROM cands)
        |WHERE rn <= $KnnJoinK ORDER BY qid, rn""".stripMargin,
    // x69: the shared trained index + a PER-ANCHOR probe ranking, then
    // the same probed-list cosine as x12 with the near-dup cap and a
    // per-anchor rank window — every step before the final cosine is
    // the x12 oracle's exact integer arithmetic.
    "x69_hard_negatives" ->
      s"""WITH $ivfTrainCtes,
        |qs AS (SELECT vec_id AS qid, e AS qe, q AS qq FROM qv
        |       WHERE vec_id < $HardNegQueries),
        |pc AS (SELECT qid, cid FROM (
        |  SELECT qs.qid, c.cid,
        |    row_number() OVER (PARTITION BY qs.qid
        |      ORDER BY list_dot_product(c.c, qs.qq) DESC, c.cid) AS rn
        |  FROM qs CROSS JOIN c2 c) WHERE rn <= $NProbe),
        |sims AS (
        |  SELECT pc.qid, a.vec_id,
        |    ROUND(list_dot_product(v.e, qs.qe) /
        |      (sqrt(list_dot_product(v.e, v.e)) *
        |       sqrt(list_dot_product(qs.qe, qs.qe))), 4) AS sim
        |  FROM pc JOIN af a USING (cid)
        |    JOIN qv v ON v.vec_id = a.vec_id
        |    JOIN qs ON qs.qid = pc.qid
        |  WHERE a.vec_id <> pc.qid)
        |SELECT qid, CAST(rn AS BIGINT) AS rn, vec_id, sim FROM (
        |  SELECT qid, vec_id, sim,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, vec_id) AS rn
        |  FROM sims WHERE sim < $HardNegCap)
        |WHERE rn <= $HardNegK
        |ORDER BY qid, rn""".stripMargin,
    // x72: x05's bucketed pair SQL (sig chain suffixed "_s" to coexist
    // with ivfTrainCtes' qv) provides positives and the anchor set; the
    // negative legs are the x69 chain restricted to those anchors; the
    // final join is pure composition.
    "x72_contrastive_triplets" ->
      s"""WITH $ivfTrainCtes,
        |${sigCtesNamed("_s")},
        |vsig AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS ve, s.bucket
        |         FROM embeddings e JOIN sig_s s USING (vec_id)),
        |prs AS (SELECT a.vec_id AS va, b.vec_id AS vb,
        |  ROUND(list_dot_product(a.ve, b.ve) /
        |    (sqrt(list_dot_product(a.ve, a.ve)) *
        |     sqrt(list_dot_product(b.ve, b.ve))), 4) AS sim
        |  FROM vsig a JOIN vsig b
        |    ON a.vec_id < b.vec_id
        |    AND bit_count(xor(a.bucket, b.bucket)) <= $ProbeRadius
        |  WHERE ROUND(list_dot_product(a.ve, b.ve) /
        |    (sqrt(list_dot_product(a.ve, a.ve)) *
        |     sqrt(list_dot_product(b.ve, b.ve))), 4) >= ${DedupOps.CosineThreshold}),
        |pos AS (SELECT va AS qid, vb AS pos_id, sim AS sim_pos FROM prs
        |        UNION ALL SELECT vb, va, sim FROM prs),
        |qs AS (SELECT vec_id AS qid, e AS qe, q AS qq FROM qv
        |       WHERE vec_id IN (SELECT qid FROM pos)),
        |pc AS (SELECT qid, cid FROM (
        |  SELECT qs.qid, c.cid,
        |    row_number() OVER (PARTITION BY qs.qid
        |      ORDER BY list_dot_product(c.c, qs.qq) DESC, c.cid) AS rn
        |  FROM qs CROSS JOIN c2 c) WHERE rn <= $NProbe),
        |sims AS (
        |  SELECT pc.qid, a.vec_id,
        |    ROUND(list_dot_product(v.e, qs.qe) /
        |      (sqrt(list_dot_product(v.e, v.e)) *
        |       sqrt(list_dot_product(qs.qe, qs.qe))), 4) AS sim
        |  FROM pc JOIN af a USING (cid)
        |    JOIN qv v ON v.vec_id = a.vec_id
        |    JOIN qs ON qs.qid = pc.qid
        |  WHERE a.vec_id <> pc.qid),
        |negs AS (SELECT qid, vec_id, sim,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY sim DESC, vec_id) AS rn
        |  FROM sims WHERE sim < $HardNegCap)
        |SELECT pos.qid AS anchor_id, pos.pos_id, pos.sim_pos,
        |  CAST(negs.rn AS BIGINT) AS rn, negs.vec_id AS neg_id,
        |  negs.sim AS sim_neg
        |FROM pos JOIN negs USING (qid) WHERE negs.rn <= $TripletNegK
        |ORDER BY anchor_id, pos_id, rn""".stripMargin,
    "x12_ann_ivf" ->
      s"""WITH $ivfServeCtes
        |SELECT v.vec_id,
        |  ROUND(list_dot_product(v.e, pq.e) /
        |    (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(pq.e, pq.e))),
        |    4) AS sim
        |FROM af JOIN pc USING (cid) JOIN qv v USING (vec_id), pq
        |WHERE v.vec_id <> 0
        |ORDER BY sim DESC, v.vec_id LIMIT $TopK""".stripMargin,
    // x38: the full IVF-PQ pipeline in SQL — shared training/probing
    // CTEs, then residuals, the seeded codebook, argmin encoding, ADC
    // lookup tables, candidate distances, and the exact rerank. Every
    // step before the final cosine is BIGINT arithmetic, so codes and
    // adc match Spark's bit-for-bit.
    "x38_ann_ivfpq" ->
      s"""WITH $ivfServeCtes,
        |res AS (
        |  SELECT v.vec_id, a.cid,
        |    list_transform(range(1, ${Dim + 1}), i -> v.q[i] - c.c[i]) AS r
        |  FROM af a JOIN qv v USING (vec_id) JOIN c2 c ON c.cid = a.cid),
        |cb AS (
        |  SELECT m.range AS m, res.vec_id AS code,
        |    res.r[m.range * $PqSub + 1 : m.range * $PqSub + $PqSub] AS cw
        |  FROM res, range($PqM) m
        |  WHERE res.vec_id % $PqSeedStep = 0
        |    AND res.vec_id < ${PqSeedStep.toLong * PqK}),
        |codes AS (SELECT vec_id, cid, m, code FROM (
        |  SELECT res.vec_id, res.cid, cb.m, cb.code,
        |    row_number() OVER (PARTITION BY res.vec_id, cb.m
        |      ORDER BY list_sum(list_transform(range(1, ${PqSub + 1}),
        |        i -> (res.r[cb.m * $PqSub + i] - cb.cw[i])
        |           * (res.r[cb.m * $PqSub + i] - cb.cw[i]))), cb.code) AS rn
        |  FROM res, cb) WHERE rn = 1),
        |qres AS (
        |  SELECT c2.cid,
        |    list_transform(range(1, ${Dim + 1}), i -> pq.q[i] - c2.c[i]) AS qr
        |  FROM c2 JOIN pc USING (cid), pq),
        |adctab AS (
        |  SELECT q.cid, cb.m, cb.code,
        |    list_sum(list_transform(range(1, ${PqSub + 1}),
        |      i -> (q.qr[cb.m * $PqSub + i] - cb.cw[i])
        |         * (q.qr[cb.m * $PqSub + i] - cb.cw[i]))) AS d
        |  FROM qres q, cb),
        |cadc AS (
        |  SELECT codes.vec_id, CAST(sum(t.d) AS BIGINT) AS adc
        |  FROM codes JOIN adctab t
        |    ON t.cid = codes.cid AND t.m = codes.m AND t.code = codes.code
        |  WHERE codes.vec_id <> 0
        |  GROUP BY 1 ORDER BY adc, vec_id LIMIT $PqCandidates)
        |SELECT v.vec_id, c.adc,
        |  ROUND(list_dot_product(v.e, pq.e) /
        |    (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(pq.e, pq.e))),
        |    4) AS sim
        |FROM cadc c JOIN qv v USING (vec_id), pq
        |ORDER BY sim DESC, v.vec_id LIMIT $TopK""".stripMargin,
    // x63: same shared training/assignment CTEs as x42; the quota is
    // an integer rank window over the exact BIGINT cdot.
    "x63_cluster_cap" ->
      s"""WITH $ivfServeCtes,
        |mem AS (
        |  SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid,
        |    CAST(list_dot_product(v.q, c.c) AS BIGINT) AS cdot
        |  FROM af a JOIN qv v USING (vec_id) JOIN c2 c ON c.cid = a.cid)
        |SELECT vec_id, cid, cdot,
        |  CAST(row_number() OVER (PARTITION BY cid
        |    ORDER BY cdot DESC, vec_id) AS BIGINT) AS rk,
        |  row_number() OVER (PARTITION BY cid
        |    ORDER BY cdot DESC, vec_id) <= $ClusterCapQ AS kept
        |FROM mem ORDER BY vec_id""".stripMargin,
    // x42: same shared training/assignment CTEs; the pair rule and the
    // keep-the-outlier CASE mirror semDedup's exact BIGINT cdot
    // arithmetic, so verdicts match bit-for-bit.
    "x42_dedup_semantic" ->
      s"""WITH $ivfServeCtes,
        |mem AS (
        |  SELECT a.vec_id, a.cid, v.e,
        |    CAST(list_dot_product(v.q, c.c) AS BIGINT) AS cdot
        |  FROM af a JOIN qv v USING (vec_id) JOIN c2 c ON c.cid = a.cid),
        |drops AS (
        |  SELECT DISTINCT CASE WHEN m1.cdot < m2.cdot THEN m2.vec_id
        |                       WHEN m2.cdot < m1.cdot THEN m1.vec_id
        |                       ELSE m2.vec_id END AS vec_id
        |  FROM mem m1 JOIN mem m2 ON m1.cid = m2.cid AND m1.vec_id < m2.vec_id
        |  WHERE ROUND(list_dot_product(m1.e, m2.e) /
        |    (sqrt(list_dot_product(m1.e, m1.e)) *
        |     sqrt(list_dot_product(m2.e, m2.e))), 4) >= $SemTau)
        |SELECT m.vec_id, CAST(m.cid AS BIGINT) AS cid, m.cdot,
        |  d.vec_id IS NULL AS kept
        |FROM mem m LEFT JOIN drops d USING (vec_id)
        |ORDER BY m.vec_id""".stripMargin,
    // x65: the bucket-candidate rule is x06/x22's bit_count form (a
    // cross-side pair survives iff signatures are within ProbeRadius,
    // exactly the mask-explode equi-join's match set); neighborhood
    // sums ride 1e4-scaled BIGINTs so the margin denominators are
    // divisions of exact integers on both engines.
    "x65_bitext_margin" ->
      s"""WITH $sigCtes,
        |sides AS (
        |  SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS v, s.bucket
        |  FROM embeddings e JOIN sig s USING (vec_id)),
        |cands AS (
        |  SELECT a.vec_id AS aid, b.vec_id AS bid,
        |    ROUND(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) *
        |       sqrt(list_dot_product(b.v, b.v))), 4) AS sim
        |  FROM sides a JOIN sides b
        |    ON bit_count(xor(a.bucket, b.bucket)) <= $ProbeRadius
        |  WHERE a.label % 2 = 0 AND b.label % 2 = 1),
        |fk AS (SELECT * FROM (
        |  SELECT aid, bid, sim, row_number() OVER (PARTITION BY aid
        |    ORDER BY sim DESC, bid) AS rn FROM cands) WHERE rn <= $BitextK),
        |bk AS (SELECT * FROM (
        |  SELECT aid, bid, sim, row_number() OVER (PARTITION BY bid
        |    ORDER BY sim DESC, aid) AS rn FROM cands) WHERE rn <= $BitextK),
        |avga AS (SELECT aid,
        |    sum(CAST(round(sim * 10000.0, 0) AS BIGINT)) AS sa,
        |    CAST(count(*) AS BIGINT) AS na
        |  FROM fk GROUP BY aid),
        |avgb AS (SELECT bid,
        |    sum(CAST(round(sim * 10000.0, 0) AS BIGINT)) AS sb,
        |    CAST(count(*) AS BIGINT) AS nb
        |  FROM bk GROUP BY bid)
        |SELECT fk.aid AS src_id, fk.bid AS tgt_id, fk.sim,
        |  round(fk.sim / (sa / (2.0 * na * 10000.0) +
        |                  sb / (2.0 * nb * 10000.0)), 6) AS margin
        |FROM fk JOIN avga USING (aid) JOIN avgb USING (bid)
        |ORDER BY margin DESC, src_id, tgt_id LIMIT $BitextTopM""".stripMargin,
  )

  /** Shared oracle CTE chain for the IVF family THROUGH training and
    * assignment: quantized vectors, the unrolled KmeansIters(=2) Lloyd
    * training, and the final per-vector assignment — ONE definition
    * feeding every IVF oracle (the sigCtes anti-drift convention).
    * Single-query serving (pq/pc) layers on in ivfServeCtes; the
    * multi-anchor x69 oracle ranks its own per-anchor probe lists. */
  private def ivfTrainCtes: String =
    s"""qv AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS e,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CAST(round(x * $QuantL, 0) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, q AS c FROM qv
       |       WHERE vec_id % $CentroidStep = 0),
       |${ivfIterCtes(1, "c0")},
       |${ivfIterCtes(2, "c1")},
       |af AS (SELECT vec_id, cid FROM (
       |  SELECT v.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY list_dot_product(v.q, c.c) DESC, c.cid) AS rn
       |  FROM qv v CROSS JOIN c2 c) WHERE rn = 1)""".stripMargin

  private def ivfServeCtes: String =
    s"""$ivfTrainCtes,
       |pq AS (SELECT e, q FROM qv WHERE vec_id = 0),
       |pc AS (SELECT c2.cid FROM c2, pq
       |       ORDER BY list_dot_product(c2.c, pq.q) DESC, c2.cid
       |       LIMIT $NProbe)""".stripMargin
}
