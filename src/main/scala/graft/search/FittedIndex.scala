package graft.search

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}

import graft.whitening.VecsWhiteningModel

/**
 * The trained state behind a [[SearcherModel]]: one case per index family,
 * nested the way faiss nests the objects its factory strings build
 * (faiss_searcher.py:100-107) — [[FittedIndex.Ivf]] wraps a coarse
 * quantizer around a code format (IndexIVF), [[FittedIndex.Refined]] a base
 * index (IndexRefineFlat), [[FittedIndex.PreTransform]] a PCA projection
 * (IndexPreTransform). Every fitted artifact lives in exactly one case, so a
 * constructed case always holds what its family needs.
 *
 * Each case owns the jobs that depend on its artifacts: encoding rows into
 * the stored cells / codes / buckets / graphs (fit and add), saving and
 * reloading its metadata tables, re-deriving `dim` and its `describe`
 * columns, and generating top-k and range candidates. [[IndexStrategy]]
 * stays the parsed, unfitted spelling.
 */
sealed trait FittedIndex {
  /** Add this index's stored columns to prepared `(row_id, __item, __vec,
    * payload…)` rows. `__vec` is dropped once codes replace it unless
    * `keepVec` (a refine stage re-scores the kept floats); `graphOffset`
    * numbers freshly built HNSW graphs past the existing ones. */
  private[search] def encode(rows: DataFrame, s: SparkSearcher, graphOffset: => Int,
      keepVec: Boolean = false): DataFrame

  /** Top-k hits `(QID, SourceItem, ROW_ID, DIST, RANK)` for prepared
    * queries `(QID, SourceItem, QVEC)`. */
  private[search] def topK(model: SearcherModel, q: DataFrame, k: Int): DataFrame

  /** Range-search pairs: index rows `(row_id, __item, __vec, payload…)`
    * joined to every query that may match them. */
  private[search] def rangePairs(model: SearcherModel, q: DataFrame): DataFrame

  /** Write the fitted metadata tables under `path`. */
  private[search] def save(spark: SparkSession, path: String): Unit

  /** Vector width: from the fitted artifacts, else read off the stored rows. */
  private[search] def dimOf(indexed: DataFrame): Int

  /** The resolved operating point of this family, as `describe` columns. */
  private[search] def resolved(model: SearcherModel): FittedIndex.Resolved =
    FittedIndex.Resolved()

  /** Column the stored rows are co-located by (IVF cell, HNSW graph), and
    * partitioned by at rest; None = rows spread by row_id. */
  private[search] def layoutCol: Option[String] = None

  /** Re-establish the serving layout of rows read back from a save: the
    * same serve-parallelism floor as fit — a small saved index is 1-3
    * parquet splits, which would pin every serve scan to 1-3 tasks. */
  private[search] def relayout(rows: DataFrame): DataFrame =
    graft.util.Parallelism.scanFloor(rows, SparkSearcher.ROW_ID)

  /** Map encoded vectors in column `c` through the fitted transform. */
  private[search] def project(df: DataFrame, c: String): DataFrame = df

  /** Extra add() counters, observed on the grown index's checkpoint job. */
  private[search] def growthCounters(model: SearcherModel): Seq[Column] = Nil

  /** Policy applied to the model add() grew; `counters` holds `__n` then
    * [[growthCounters]]. */
  private[search] def afterAdd(grown: SearcherModel, counters: Row): SearcherModel = grown

  /** The index under any refine / pre-transform wrapper. */
  private[search] def core: FittedIndex = this
}

object FittedIndex {
  import SparkSearcher._

  /** How an index stores each row's vector. */
  sealed trait Codec {
    /** The code column for a prepared float vector; None = stored as floats. */
    private[search] def codes(vec: Column): Option[Column] = None
    private[search] def dimOf(indexed: DataFrame): Int
    private[search] def save(spark: SparkSession, path: String): Unit = ()

    /** `rows` with this codec's codes (of `vec`) added, `__vec` dropped
      * unless kept. */
    private[search] final def store(rows: DataFrame, keepVec: Boolean,
        vec: Column = col(VEC)): DataFrame =
      codes(vec).fold(rows) { c =>
        val coded = rows.withColumn(PqIndex.CODES, c)
        if (keepVec) coded else coded.drop(VEC)
      }
  }

  /** Codecs the exact float kernels score through a `__vec` view. */
  sealed trait FloatCodec extends Codec {
    private[search] def vecView: Column
    /** Queries as a range scan over this codec must see them. */
    private[search] def rangeQueries(q: DataFrame, measurement: String): DataFrame = q
  }

  /** Codecs scored by asymmetric distance tables over byte codes. */
  sealed trait AdcCodec extends Codec {
    private[search] def tables: Array[Array[Array[Float]]]
    /** Code-stream width the ADC scorer reads. */
    private[search] def tableBits: Int
  }

  case object Floats extends FloatCodec {
    private[search] def vecView: Column = col(VEC)
    private[search] def dimOf(indexed: DataFrame): Int =
      indexed.select(size(col(VEC))).head().getInt(0)
  }

  /** SQfp16: train-free IEEE half codes (2·dim bytes), decoded inside the
    * scoring projection — one codegen span with the distance kernel, so
    * the float corpus is never materialized. */
  case object Half extends FloatCodec {
    override private[search] def codes(vec: Column) = Some(Fp16.encodeCol(vec))
    private[search] def vecView: Column = Fp16.decodeCol(col(PqIndex.CODES)).as(VEC)
    // codes only: dim = half the code bytes
    private[search] def dimOf(indexed: DataFrame): Int =
      indexed.select(length(col(PqIndex.CODES))).head().getInt(0) / 2
    // a cos fit normalized the corpus AND trained any IVF centroids on unit
    // vectors, so the probing query is normalized the same way (cos itself
    // is scale-invariant: threshold semantics are unchanged)
    override private[search] def rangeQueries(q: DataFrame, measurement: String) =
      normalizedIf(q, QVEC, measurement == "cos")
  }

  /** Product-quantizer codebooks `m × 2^nbits × dsub`: byte codes, or two
    * 16-centroid codes nibble-packed per byte (`PQmx4`). */
  final case class Pq(codebooks: Array[Array[Array[Float]]], nbits: Int) extends AdcCodec {
    override private[search] def codes(vec: Column) =
      Some(PqIndex.encodeCol(vec, codebooks, nbits))
    private[search] def tables = codebooks
    private[search] def tableBits = nbits
    private[search] def dimOf(indexed: DataFrame): Int = codebooks.map(_(0).length).sum
    override private[search] def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      writeMeta((for (m <- codebooks.indices; c <- codebooks(m).indices)
        yield (m, c, codebooks(m)(c).toSeq)).toDF("sub", "cid", "centroid"),
        s"$path/pq_codebooks")
    }
  }

  /** SQ8 / SQ4 per-dim bounds. Persisted as bounds (2·dim floats), so rows
    * added after a load encode under the exact fitted bounds; scoring runs
    * the ADC machinery over the derived dequantization levels, whose SQ4
    * nibbles pair into byte-level tables — a byte-granular code stream. */
  final case class Sq(vmin: Array[Float], vdiff: Array[Float], nbits: Int) extends AdcCodec {
    override private[search] def codes(vec: Column) =
      Some(SqIndex.encodeCol(vec, vmin, vdiff, nbits))
    private[search] lazy val tables = SqIndex.levels(vmin, vdiff, nbits)
    private[search] def tableBits = 8
    private[search] def dimOf(indexed: DataFrame): Int = vmin.length
    override private[search] def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      writeMeta(vmin.indices.map(i => (i, vmin(i), vdiff(i))).toDF("i", "vmin", "vdiff"),
        s"$path/sq_bounds")
    }
  }

  /** Brute-force scan of every stored row — faiss's IndexFlatCodes family:
    * `Flat(Floats)` is IndexFlat, `Flat(Pq)` IndexPQ, `Flat(Sq | Half)`
    * IndexScalarQuantizer. */
  final case class Flat(codec: Codec) extends FittedIndex {
    private[search] def encode(rows: DataFrame, s: SparkSearcher, graphOffset: => Int,
        keepVec: Boolean): DataFrame = codec.store(rows, keepVec)
    private[search] def topK(model: SearcherModel, q: DataFrame, k: Int): DataFrame =
      codec match {
        case Floats => model.exactTopK(q, k)
        case f: FloatCodec =>
          model.exactTopKAggregate(q, k, model.indexed.select(col(ROW_ID), f.vecView))
        case a: AdcCodec => adcTopK(model, q, k, a)
      }
    private[search] def rangePairs(model: SearcherModel, q: DataFrame): DataFrame =
      codec match {
        case f: FloatCodec => model.scanRows(f.vecView)
          .crossJoin(broadcast(f.rangeQueries(q, model.params.measurement)))
        case _: AdcCodec => noRange()
      }
    private[search] def save(spark: SparkSession, path: String): Unit = codec.save(spark, path)
    private[search] def dimOf(indexed: DataFrame): Int = codec.dimOf(indexed)
  }

  /** Coarse-quantized cells (faiss IndexIVF) over any code format: each
    * query scans only its nprobe nearest cells. */
  final case class Ivf(centroids: Array[Array[Float]], codec: Codec) extends FittedIndex {
    private[search] def encode(rows: DataFrame, s: SparkSearcher, graphOffset: => Int,
        keepVec: Boolean): DataFrame =
      codec.store(IvfIndex.assignCells(rows, VEC, centroids,
        rows.sparkSession.sparkContext.defaultParallelism), keepVec)
    private[search] def topK(model: SearcherModel, q: DataFrame, k: Int): DataFrame =
      codec match {
        case f: FloatCodec =>
          IvfIndex.ivfTopKOver(
            model.indexed.select(col(ROW_ID), f.vecView, col(IvfIndex.CID)),
            model.metric, centroids, q, k, model.searcher.effectiveNprobe)
        // cell-pruned ADC: a code is scored only for queries probing its
        // cell (IvfPqScorer derives the cell count from the centroids —
        // auto-sized IVF0 models parse as nlist=0)
        case a: AdcCodec =>
          withSource(IvfPqScorer.topK(model.indexed, q, k, a.tables, centroids,
            model.params.nprobe, model.metric.name, model.params.metricArg,
            nbits = a.tableBits), q)
      }
    private[search] def rangePairs(model: SearcherModel, q: DataFrame): DataFrame =
      codec match {
        case f: FloatCodec =>
          // a row lives in exactly one cell, so hits stay distinct; full
          // probe ≡ the exact scan. Clamp against the FITTED cell count —
          // an auto-sized `IVF0` parses as nlist=0
          val probes = f.rangeQueries(q, model.params.measurement)
            .withColumn(IvfIndex.CID, explode(IvfIndex.nearestCentroidsCol(col(QVEC),
              centroids, IndexStrategy.resolveNprobe(model.searcher.effectiveNprobe,
                centroids.length))))
          model.scanRows(f.vecView, col(IvfIndex.CID)).join(probes, IvfIndex.CID)
        case _: AdcCodec => noRange()
      }
    private[search] def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      writeMeta(centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("centroid_id", "centroid"), s"$path/centroids")
      codec.save(spark, path)
    }
    private[search] def dimOf(indexed: DataFrame): Int = codec match {
      case a: AdcCodec => a.dimOf(indexed)
      case _           => centroids(0).length
    }
    override private[search] def resolved(model: SearcherModel): Resolved = Resolved(
      nprobe = Some(IndexStrategy.resolveNprobe(model.searcher.effectiveNprobe, centroids.length)))
    // on disk the cells are directories, so a cell-filtered read of a saved
    // index prunes at the storage layer to the probed fraction
    override private[search] def layoutCol = Some(IvfIndex.CID)
    // keeps the at-rest cell clustering
    override private[search] def relayout(rows: DataFrame): DataFrame = rows
  }

  /** OPQ pre-rotation into the fitted eigen-balanced basis, then PQ over the
    * rotated vectors (faiss `OPQm,PQm`). */
  final case class Opq(rotation: Array[Array[Float]], pq: Pq) extends FittedIndex {
    private[search] def encode(rows: DataFrame, s: SparkSearcher, graphOffset: => Int,
        keepVec: Boolean): DataFrame =
      pq.store(rows, keepVec, OpqIndex.rotateCol(col(VEC), rotation))
    // queries rotate into the fitted basis; the stored codes already live there
    private[search] def topK(model: SearcherModel, q: DataFrame, k: Int): DataFrame =
      adcTopK(model, q.withColumn(QVEC, OpqIndex.rotateCol(col(QVEC), rotation)), k, pq)
    private[search] def rangePairs(model: SearcherModel, q: DataFrame): DataFrame = noRange()
    private[search] def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      writeMeta(rotation.indices.map(j => (j, rotation(j).toSeq)).toDF("j", "row"),
        s"$path/opq_rotation")
      pq.save(spark, path)
    }
    private[search] def dimOf(indexed: DataFrame): Int = pq.dimOf(indexed)
  }

  /** Sign-random-projection tables `tables × bits × dim` (faiss IndexLSH,
    * extended to several tables); search is an equi-join on (table,
    * bucket), so only colliding rows are ever scored. */
  final case class Lsh(planes: Array[Array[Array[Float]]]) extends FittedIndex {
    /** [[SparkSearcher.lshExactCheaper]] of the fitted planes: serving this
      * config is estimated ≥ an exact scan per query. */
    private[search] def exactCheaper: Boolean =
      planes.nonEmpty && SparkSearcher.lshExactCheaper(planes.length, planes(0).length)

    private[search] def encode(rows: DataFrame, s: SparkSearcher, graphOffset: => Int,
        keepVec: Boolean): DataFrame =
      rows.withColumn(BUCKETS, SignLsh.bucketsCol(col(VEC), planes))

    // cost-based access-path check on EVERY serve (the config may be
    // degenerate — the 64-table feasibility ceiling); the reroute is
    // automatic for joint-auto spellings (no bucket obligation) and opt-in
    // for explicit ones, where faiss semantics say the index you built is
    // the index that serves (the hash gates pin bucket results)
    private[search] def topK(model: SearcherModel, q: DataFrame, k: Int): DataFrame =
      if (model.lshServeExact) { routeLog(model, routed = true); model.exactTopK(q, k) }
      else {
        if (exactCheaper) routeLog(model, routed = false)
        val scored = candidates(model, q)
          .join(model.indexed.select(col(ROW_ID), col(VEC)), ROW_ID)
          .join(broadcast(q.select(col(QID), col(QVEC))), QID)
          .withColumn(DIST, model.metric.dist(col(QVEC), col(VEC)))
        // bounded-heap top-k tail (same as the exact aggregate path):
        // shuffles k rows per query per partition instead of sorting all
        // candidates. May return < k rows for a query with few collisions
        // (faiss's LSH behaves the same)
        withSource(TopKAggregate.mergeHits(scored, k,
          ascending = !model.metric.higherIsCloser), q)
      }

    // the degenerate-config reroute applies here too: a range scan has the
    // same candidate economics, and the exact scan returns a SUPERSET of any
    // bucket-pruned result at lower estimated cost. Bucket candidates keep
    // LSH's recall semantics (a true hit colliding in no table is missed)
    private[search] def rangePairs(model: SearcherModel, q: DataFrame): DataFrame =
      if (model.lshServeExact) {
        routeLog(model, routed = true)
        model.scanRows(col(VEC)).crossJoin(broadcast(q))
      } else {
        if (exactCheaper) routeLog(model, routed = false)
        candidates(model, q).join(model.scanRows(col(VEC)), ROW_ID)
          .join(broadcast(q), QID)
      }

    /** Distinct `(QID, ROW_ID)` bucket collisions. JOIN ORDER IS THE SCALE
      * STORY: the candidate set is |Q| × occupancy × tables rows (the r16
      * sf100 probe measured 506M distinct candidates at |Q|=500), so the
      * row_id shuffle carries only these SKINNY pairs; the ~300-byte query
      * vector attached before it was 160 GB in flight at |Q|=500. Vectors
      * join on AFTER the shuffle: the index side by row_id, the broadcast
      * query side last. */
    private def candidates(model: SearcherModel, q: DataFrame): DataFrame = {
      val probes = q.select(col(QID),
        posexplode(SignLsh.bucketsCol(col(QVEC), planes)).as(Seq("__tbl", "__bkt")))
      val slimB = model.indexed.select(col(ROW_ID),
        posexplode(col(BUCKETS)).as(Seq("__tbl", "__bkt")))
      probes.join(slimB, Seq("__tbl", "__bkt")).select(col(QID), col(ROW_ID)).distinct()
    }

    private def routeLog(model: SearcherModel, routed: Boolean): Unit = {
      val (t, b) = (planes.length, planes(0).length)
      val msg = f"LSH$t%dx$b%d: estimated candidate verify " +
        f"(tables·n/2^bits at ${SparkSearcher.CandidateRowOverhead}%.0f× a " +
        f"scanned row) ≥ the exact scan — " +
        (if (routed && model.params.lshExactFallback)
          "serving through the exact top-k kernel (lshExactFallback)"
         else if (routed)
          "auto config refused for serving; routing through the exact " +
            "top-k kernel (recall 1.0 — an auto spelling carries no bucket " +
            "obligation)"
         else "set lshExactFallback=true to serve through the exact kernel " +
           "(same or better latency, recall 1.0)")
      org.slf4j.LoggerFactory.getLogger("graft.search.SparkSearcher").warn(msg)
    }

    private[search] def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      writeMeta((for (t <- planes.indices; b <- planes(t).indices)
        yield (t, b, planes(t)(b).toSeq)).toDF("tbl", "bit", "plane"), s"$path/lsh_planes")
    }
    private[search] def dimOf(indexed: DataFrame): Int = planes(0)(0).length
    override private[search] def resolved(model: SearcherModel): Resolved =
      if (planes.isEmpty) Resolved()
      else Resolved(lshTables = Some(planes.length), lshBits = Some(planes(0).length),
        lshExactCheaper = Some(exactCheaper),
        lshRoute = Some(if (model.lshServeExact) "exact" else "buckets"))
  }

  /** Partition-local NSW graphs with `m` out-links per node ([[NswGraph]],
    * the faiss IndexHNSW analog). `fittedGraphs` is the graph layout fit
    * built — compact()'s rebuild target and add()'s segment baseline,
    * persisted so the layout survives a load onto a cluster of different
    * parallelism; None for saves that predate it. */
  final case class Hnsw(m: Int, fittedGraphs: Option[Int]) extends FittedIndex {
    /** Build graphs over `rows` under ids `offset …`. */
    private[search] def build(rows: DataFrame, s: SparkSearcher, numGraphs: Int,
        offset: Int): DataFrame =
      NswGraph.buildGraphs(rows, VEC, ROW_ID, m,
        SparkSearcher.resolveEfConstruction(s.params.efConstruction, m), numGraphs,
        s.params.measurement, s.params.metricArg, gpartOffset = offset)

    // appended rows get FRESH graphs past the existing ids (the Lucene
    // per-segment-HNSW shape): built graphs are immutable, search fans out
    // over old and new alike
    private[search] def encode(rows: DataFrame, s: SparkSearcher, graphOffset: => Int,
        keepVec: Boolean): DataFrame =
      build(rows, s, defaultGraphs(s.params, rows.sparkSession), graphOffset)
    private[search] def topK(model: SearcherModel, q: DataFrame, k: Int): DataFrame =
      withSource(NswGraph.topK(model.indexed, q, k, model.effectiveEf, model.metric.name,
        model.params.metricArg), q)
    private[search] def rangePairs(model: SearcherModel, q: DataFrame): DataFrame =
      model.scanRows(col(VEC)).crossJoin(broadcast(q))
    private[search] def save(spark: SparkSession, path: String): Unit = ()
    private[search] def dimOf(indexed: DataFrame): Int = Floats.dimOf(indexed)

    // serving lifecycle: current vs fitted graph layout and the compact()
    // recommendation — the SAME criterion as add()'s warning (segment rows
    // exceed the fitted corpus; the r19 2M ladder measured batch latency
    // ~linear in graph count), surfaced so the merge decision doesn't live
    // only in driver logs
    override private[search] def resolved(model: SearcherModel): Resolved = {
      val g0 = model.fittedGraphTarget
      Resolved(efSearch = Some(model.effectiveEf), hnswGraphs = Some(model.hnswGraphCount),
        hnswFittedGraphs = Some(g0), compactRecommended = Some(model.hnswGraphCount > g0 &&
          model.count - model.hnswFittedRows > model.hnswFittedRows))
    }
    // each graph's rows live in one directory, so load re-co-locates a
    // graph with one shuffle and a partial read touches whole graphs
    override private[search] def layoutCol = Some(NswGraph.GPART)
    // a graph's adjacency is resolved within its task; parquet splits don't
    // respect graph boundaries — a directory-aligned shuffle re-groups them
    override private[search] def relayout(rows: DataFrame): DataFrame =
      rows.repartition(col(NswGraph.GPART))

    override private[search] def growthCounters(model: SearcherModel): Seq[Column] =
      Seq(coalesce(sum(when(col(NswGraph.GPART) < lit(model.fittedGraphTarget), 1L)
        .otherwise(0L)), lit(0L)).as("__fitted"))

    /** Segment-growth policy (r19 warning, r20 merge policy): repeated
      * add() accumulates fresh segment graphs, and every graph is searched
      * at the full beam, so cost scales with graph COUNT while each appended
      * graph holds only its slice. The split is measured against the
      * FITTED layout (persisted, not re-derived from this cluster):
      *  - autoCompactAtSegmentRatio > 0 and tripped → compact() inline (the
      *    opt-in Lucene-merge-policy shape);
      *  - otherwise, once segment rows exceed the fitted corpus the guidance
      *    is logged: compact() (one graph rebuild) restores it. */
    override private[search] def afterAdd(grown: SearcherModel,
        counters: Row): SearcherModel = {
      val g0 = grown.fittedGraphTarget
      val n = counters.getLong(0)
      val fittedRows = counters.getLong(1)
      val segRows = n - fittedRows
      val ratio = grown.params.autoCompactAtSegmentRatio
      val log = org.slf4j.LoggerFactory.getLogger("graft.search.SparkSearcher")
      if (ratio > 0 && fittedRows > 0 && segRows >= ratio * fittedRows) {
        log.info(s"HNSW add: segment rows $segRows / fitted $fittedRows " +
          f"reached autoCompactAtSegmentRatio=$ratio%.2f — compacting " +
          s"into the fitted $g0-graph layout")
        // the receiver is already consumed and its blocks released; if the
        // full-graph rebuild dies (executor loss/OOM) the caller still gets
        // the grown segmented model (live: compact() consumes it only after
        // its rebuild materializes) instead of a leaked checkpoint (r21)
        try grown.compact() catch {
          case scala.util.control.NonFatal(e) =>
            log.warn("HNSW add: in-add compact failed — returning the " +
              "grown segmented model; call compact() again when the " +
              s"cluster recovers (${e.getMessage})", e)
            grown
        }
      } else {
        if (segRows > fittedRows)
          log.warn(
            s"HNSW add: segment graphs now hold $segRows rows vs " +
              s"$fittedRows fitted — growth exceeded the fitted corpus; " +
              "per-graph beam economics degrade from here (each graph is " +
              "searched at the full beam). Call compact() to rebuild into " +
              s"the fitted $g0-graph layout (or opt in to " +
              "autoCompactAtSegmentRatio), or refit.")
        grown
      }
    }
  }

  /** Graph count for a new build: `hnswGraphs`, else one graph per
    * parallelism slot — graph size stays corpus/parallelism. */
  private[search] def defaultGraphs(p: SearcherParams, spark: SparkSession): Int =
    math.max(1, if (p.hnswGraphs > 0) p.hnswGraphs else spark.sparkContext.defaultParallelism)

  /** An index wrapping `inner`: everything it does not override delegates. */
  sealed trait Wrapper extends FittedIndex {
    def inner: FittedIndex
    private[search] def encode(rows: DataFrame, s: SparkSearcher, graphOffset: => Int,
        keepVec: Boolean): DataFrame = inner.encode(rows, s, graphOffset, keepVec)
    private[search] def topK(model: SearcherModel, q: DataFrame, k: Int): DataFrame =
      inner.topK(model, q, k)
    private[search] def rangePairs(model: SearcherModel, q: DataFrame): DataFrame =
      inner.rangePairs(model, q)
    private[search] def save(spark: SparkSession, path: String): Unit = inner.save(spark, path)
    private[search] def dimOf(indexed: DataFrame): Int = inner.dimOf(indexed)
    override private[search] def resolved(model: SearcherModel): Resolved = inner.resolved(model)
    override private[search] def layoutCol = inner.layoutCol
    override private[search] def relayout(rows: DataFrame): DataFrame = inner.relayout(rows)
    override private[search] def core: FittedIndex = inner.core
  }

  /** faiss IndexRefineFlat (`…,RFlat`): the inner code-based index keeps
    * the float vectors next to its codes (memory = floats + codes) and
    * proposes `topK · kFactor` candidates; the floats re-score them
    * EXACTLY, so candidate misses are the only recall loss left. */
  final case class Refined(inner: FittedIndex) extends Wrapper {
    override private[search] def encode(rows: DataFrame, s: SparkSearcher,
        graphOffset: => Int, keepVec: Boolean): DataFrame =
      inner.encode(rows, s, graphOffset, keepVec = true)
    override private[search] def topK(model: SearcherModel, q: DataFrame,
        k: Int): DataFrame = {
      // refineKFactor = 0 (default) scales the pool with the corpus
      // (quadruple per decade, the measured ladder); an explicit value
      // passes through, with a warning when it is a small fixed pool at the
      // scale where the measured decay is material
      val p = model.params
      val kFactor = SparkSearcher.resolveRefineKFactor(p.refineKFactor, model.count)
      val rlog = org.slf4j.LoggerFactory.getLogger("graft.search.SparkSearcher")
      if (p.refineKFactor <= 0)
        rlog.info(s"RFlat auto pool: ${model.count} rows -> kFactor=$kFactor")
      else if (p.refineKFactor <= 4 && model.count >= 100000L)
        rlog.warn(s"RFlat refine pinned at x$kFactor over ${model.count} rows: a " +
          "fixed pool's recall decays with corpus growth (RECALL.md: x4 " +
          "reads 0.470 @ 200k, 0.347 @ 2M) — set refineKFactor=0 (auto) " +
          "or raise it, or serve IVF-auto/HNSW")
      val exact = inner.topK(model, q, k * kFactor).select(col(QID), col(ROW_ID))
        .join(model.indexed.select(col(ROW_ID), col(VEC)), ROW_ID)
        .join(broadcast(q.select(col(QID), col(QVEC))), QID)
        .withColumn(DIST, model.metric.dist(col(QVEC), col(VEC)))
      withSource(TopKAggregate.mergeHits(exact, k, ascending = !model.metric.higherIsCloser), q)
    }
    // the kept floats range exactly
    override private[search] def rangePairs(model: SearcherModel, q: DataFrame): DataFrame =
      model.scanRows(col(VEC)).crossJoin(broadcast(q))
    override private[search] def resolved(model: SearcherModel): Resolved =
      inner.resolved(model).copy(refineKFactor =
        Some(SparkSearcher.resolveRefineKFactor(model.params.refineKFactor, model.count)))
  }

  /** faiss IndexPreTransform (`PCAn,…` / `PCAWn,…` / `PCARn,…`): rows and
    * queries project through the fitted PCA kernel (any R rotation already
    * composed in) before the inner index sees them. */
  final case class PreTransform(pca: VecsWhiteningModel, inner: FittedIndex) extends Wrapper {
    override private[search] def save(spark: SparkSession, path: String): Unit = {
      pca.save(spark, s"$path/pca")
      inner.save(spark, path)
    }
    override private[search] def project(df: DataFrame, c: String): DataFrame =
      df.withColumn(c, pca.transformCol(col(c)))
  }

  /** describe()'s family columns; None (null) where a family has no such
    * resolved value. */
  private[search] final case class Resolved(nprobe: Option[Int] = None,
      efSearch: Option[Int] = None, refineKFactor: Option[Int] = None,
      lshTables: Option[Int] = None, lshBits: Option[Int] = None,
      lshExactCheaper: Option[Boolean] = None, lshRoute: Option[String] = None,
      hnswGraphs: Option[Int] = None, hnswFittedGraphs: Option[Int] = None,
      compactRecommended: Option[Boolean] = None)

  /** Read back the fitted state `save` wrote for `s`'s strategy. The
    * metadata tables are a few hundred tiny rows: driver-side collects over
    * the writer's own static schemas, the order the arrays need
    * re-established on the driver (an `orderBy` paid a range-sampling job
    * and a footer-inference job per table, per load). */
  private[search] def load(spark: SparkSession, path: String, s: SparkSearcher,
      fittedGraphs: Option[Int]): FittedIndex = {
    val floatArr = ArrayType(FloatType)
    def int(n: String) = StructField(n, IntegerType)
    def meta(sub: String, fields: StructField*): Array[Row] =
      spark.read.schema(StructType(fields)).parquet(s"$path/$sub").collect()
    def floats(r: Row, c: String) = r.getAs[scala.collection.Seq[Float]](c).toArray
    def vectors(sub: String, key: String, value: String): Array[Array[Float]] =
      meta(sub, int(key), StructField(value, floatArr))
        .sortBy(_.getAs[Int](key)).map(floats(_, value))
    def grouped(sub: String, outer: String, inner: String,
        value: String): Array[Array[Array[Float]]] =
      meta(sub, int(outer), int(inner), StructField(value, floatArr))
        .groupBy(_.getAs[Int](outer)).toSeq.sortBy(_._1)
        .map { case (_, rs) => rs.sortBy(_.getAs[Int](inner)).map(floats(_, value)) }.toArray
    def pq(nbits: Int) = Pq(grouped("pq_codebooks", "sub", "cid", "centroid"), nbits)
    def sq(nbits: Int): Codec =
      if (nbits == 16) Half // train-free: nothing was saved
      else {
        val rows = meta("sq_bounds", int("i"), StructField("vmin", FloatType),
          StructField("vdiff", FloatType)).sortBy(_.getAs[Int]("i"))
        Sq(rows.map(_.getAs[Float]("vmin")), rows.map(_.getAs[Float]("vdiff")), nbits)
      }
    def centroids() = vectors("centroids", "centroid_id", "centroid")
    def of(st: IndexStrategy): FittedIndex = st match {
      case ExactFlat            => Flat(Floats)
      case PqFlat(_, nbits)     => Flat(pq(nbits))
      case SqFlat(nbits)        => Flat(sq(nbits))
      case IvfFlat(_)           => Ivf(centroids(), Floats)
      case IvfPq(_, _, nbits)   => Ivf(centroids(), pq(nbits))
      case IvfSq(_, nbits)      => Ivf(centroids(), sq(nbits))
      case OpqPq(_)             => Opq(vectors("opq_rotation", "j", "row"), pq(8))
      case LshTables(_, _)      => Lsh(grouped("lsh_planes", "tbl", "bit", "plane"))
      case HnswGraph(m)         => Hnsw(m, fittedGraphs)
      case graft.search.Refined(inner) => Refined(of(inner))
    }
    val index = of(s.strategy)
    // indexParam carries the PCA spelling; n_components is re-asserted
    s.pcaSpec.fold(index) { case (nc, _, _) =>
      PreTransform(VecsWhiteningModel.load(spark, s"$path/pca", Some(nc)), index)
    }
  }

  /** Metadata tables are a few KB–MB of fitted constants: each is written
    * as ONE file (r22) — a local Seq's toDF otherwise parallelizes to the
    * shuffle-partition count, leaving ~32 near-empty files for every later
    * load to open. */
  private def writeMeta(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  private def adcTopK(model: SearcherModel, q: DataFrame, k: Int, a: AdcCodec): DataFrame =
    withSource(PqIndex.pqTopK(model.indexed, q, k, a.tables, model.metric.name,
      model.params.metricArg, nbits = a.tableBits), q)

  private def noRange(): Nothing = throw new IllegalArgumentException(
    "range search needs stored vectors (Flat/IVF/LSH) or decodable fp16 " +
      "codes (PQ/SQ8/SQ4 keep lossy byte codes only)")
}
