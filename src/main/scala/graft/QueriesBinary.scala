package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ext.{BinaryOps, Dedup, Frequency, GraphOps, Similarity, TextOps}
import graft.ops.{Ops, TemporalOps, WindowOps}
import graft.probes.Probes

/** Binary/multimodal container and media queries. */
private[graft] object QueriesBinary {
  import SparkEntry.table
  import QueryHelpers._

  def registry: Seq[Query] = Seq(
    // the Spark side PARSES real container headers its builders wrote;
    // this side computes the expectation arithmetically — images carry
    // dimensions and NULL audio geometry, wav the reverse
    Query("media_meta", """
      SELECT doc_id,
        CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
          WHEN 2 THEN 'bmp' WHEN 3 THEN 'jpeg' WHEN 4 THEN 'wav'
          ELSE 'mp4' END AS format,
        CASE WHEN doc_id % 6 <= 3
          THEN CAST(doc_id % 800 + 16 AS INTEGER) END AS width,
        CASE WHEN doc_id % 6 <= 3
          THEN CAST(doc_id % 600 + 16 AS INTEGER) END AS height,
        CASE WHEN doc_id % 6 = 4
          THEN CAST(doc_id % 2 + 1 AS INTEGER) END AS channels,
        CASE WHEN doc_id % 6 = 4
          THEN CAST(8000 + (doc_id % 7) * 4000 AS INTEGER) END AS sample_rate,
        CASE WHEN doc_id % 6 = 5
          THEN CAST(doc_id % 7200000 + 1000 AS INTEGER) END AS duration_ms
      FROM documents ORDER BY doc_id""") { (s, dir) =>
      // real container headers round-tripped through the native parser:
      // the builders write spec-exact PNG/GIF/BMP/JPEG/WAV headers with
      // per-doc dimensions, the kernel must read them back at the right
      // offsets and endianness — the oracle computes the expectation
      // arithmetically, so any parser slip hash-mismatches
      BinaryOps.mediaMetadata("doc_id", "blob")(syntheticMedia(s, dir))
        .orderBy("doc_id")
    },
    // frame layout is pure arithmetic on the builder's duration: a
    // frame at every interval start inside [0, duration), capped at 5;
    // md5(id:ts) is the deterministic frame HANDLE (stub decode)
    Query("frame_samples", """
      WITH d AS (SELECT doc_id, doc_id % 7200000 + 1000 AS dur
          FROM documents WHERE doc_id % 6 = 5),
      n AS (SELECT doc_id,
          least(CAST(5 AS BIGINT), CAST(ceil(dur / 6e4) AS BIGINT)) AS nf
        FROM d),
      f AS (SELECT doc_id, unnest(range(0, nf)) AS i FROM n)
      SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        i * 60000 AS ts_ms,
        md5(doc_id || ':' || (i * 60000)) AS frame_ref
      FROM f ORDER BY doc_id, frame_idx""") { (s, dir) =>
      // frame-extraction plumbing over the SAME mixed media fixture:
      // only the mp4 rows (doc_id % 6 = 5) carry a duration, so only
      // they fan out to frame rows — the routing is part of the pin
      BinaryOps.sampleFrames("doc_id", "blob")(syntheticMedia(s, dir))
        .orderBy("doc_id", "frame_idx")
    },
    // the shard's closed form: single-digit fields make every record
    // 94+j bytes — offsets are pure arithmetic, no byte parsing
    Query("warc_records", """
      SELECT doc_id, CAST(j AS INTEGER) AS rec_idx,
        'response' AS rec_type,
        'https://ex.com/p/' || CAST(j AS VARCHAR) AS target_uri,
        CAST(j + 1 AS BIGINT) AS content_length,
        CAST(94 * j + j * (j - 1) // 2 AS BIGINT) AS offset
      FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS j
            FROM documents)
      ORDER BY doc_id, rec_idx""") { (s, dir) =>
      // the Common Crawl container: spec-exact synthetic shards (1-3
      // response records per doc), the kernel walks header blocks and
      // payload separators and must recover every type/uri/length/
      // offset the builder's closed form declares
      val nw = (col("doc_id") % 3 + 1).cast("int")
      corpus(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          BinaryOps.warcRecords(BinaryOps.syntheticWarc(nw))))
        .select(col("doc_id"), col("pos").as("rec_idx"),
          col("col.rec_type").as("rec_type"),
          col("col.target_uri").as("target_uri"),
          col("col.content_length").as("content_length"),
          col("col.offset").as("offset"))
        .orderBy("doc_id", "rec_idx")
    },
    // the archive's closed form: with fixed-width names the builder's
    // offsets are pure arithmetic — the oracle never parses a byte
    Query("zip_entries", """
      SELECT doc_id, CAST(j AS INTEGER) AS entry_idx,
        'f' || CAST(j AS VARCHAR) || '.txt' AS name,
        CAST(j + 1 AS BIGINT) AS compressed,
        CAST(j + 1 AS BIGINT) AS uncompressed,
        CAST(37 * j + j * (j - 1) // 2 AS BIGINT) AS local_offset
      FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS j
            FROM documents)
      ORDER BY doc_id, entry_idx""") { (s, dir) =>
      // archive-shard routing: spec-exact synthetic ZIPs (1-3 stored
      // members per doc), the kernel must walk EOCD -> central dir and
      // recover every name/size/offset the builder's closed form
      // declares — the media_meta discipline for containers-of-files
      val nz = (col("doc_id") % 3 + 1).cast("int")
      corpus(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          BinaryOps.zipEntries(BinaryOps.syntheticZip(nz))))
        .select(col("doc_id"), col("pos").as("entry_idx"),
          col("col.name").as("name"),
          col("col.compressed").as("compressed"),
          col("col.uncompressed").as("uncompressed"),
          col("col.local_offset").as("local_offset"))
        .orderBy("doc_id", "entry_idx")
    },
    // the tarball builder's closed form: member j is f<j>.txt of j+1
    // bytes at header offset 1024*j (one data block each), flag '0'
    Query("tar_entries", """
      SELECT doc_id, CAST(j AS INTEGER) AS entry_idx,
        'f' || CAST(j AS VARCHAR) || '.txt' AS name,
        CAST(j + 1 AS BIGINT) AS size,
        '0' AS typeflag,
        CAST(1024 * j AS BIGINT) AS offset
      FROM (SELECT doc_id, unnest(range(0, doc_id % 3 + 1)) AS j
            FROM documents)
      ORDER BY doc_id, entry_idx""") { (s, dir) =>
      // tarball routing — the third container kernel: spec-exact
      // synthetic USTAR archives (1-3 members), the kernel walks
      // 512-byte headers (octal sizes, ustar magic) and must recover
      // every name/size/flag/offset the builder's closed form
      // declares (offset_j = 1024·j with one data block per member)
      val nt = (col("doc_id") % 3 + 1).cast("int")
      corpus(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          BinaryOps.tarEntries(BinaryOps.syntheticTar(nt))))
        .select(col("doc_id"), col("pos").as("entry_idx"),
          col("col.name").as("name"), col("col.size").as("size"),
          col("col.typeflag").as("typeflag"),
          col("col.offset").as("offset"))
        .orderBy("doc_id", "entry_idx")
    },
    // the waveform's closed form: the oracle never parses a byte, it
    // recomputes the generator and aggregates exactly
    Query("wav_stats", """
      WITH d AS (SELECT doc_id, doc_id % 50 + 5 AS n FROM documents),
      s AS (SELECT doc_id, n, unnest(range(0, n)) AS j FROM d),
      v AS (SELECT doc_id, n,
          (doc_id * 31 + j * 17) % 4096 - 2048 AS smp FROM s)
      SELECT doc_id, CAST(max(n) AS INTEGER) AS n_samples,
        CAST(max(abs(smp)) AS INTEGER) AS peak,
        CAST(sum(smp * smp) AS BIGINT) AS sum_sq,
        sqrt(CAST(sum(smp * smp) AS DOUBLE) / max(n)) AS rms
      FROM v GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      // the first REAL sample-decode rung: per-doc PCM-16 WAVs built
      // with a deterministic waveform (smp_j = (id·31 + j·17) % 4096 −
      // 2048), the kernel must recover count/peak/energy from BYTES;
      // the oracle computes the expectation arithmetically from the
      // same formula — the media_meta discipline, one level deeper
      val id = col("doc_id")
      val n = (id % 50 + 5).cast("int")
      val samples = transform(sequence(lit(0), n - 1),
        j => ((id * 31 + j.cast("long") * 17) % 4096 - 2048).cast("int"))
      BinaryOps.wavStats("doc_id", "blob")(
        corpus(s, dir, "documents").select(id,
          BinaryOps.syntheticWavPcm((id % 2 + 1).cast("int"),
            (lit(8000) + (id % 7) * 4000).cast("int"), samples).as("blob")))
        .orderBy("doc_id")
    },
    // DuckDB's md5 takes VARCHAR only; the fixture text is pure ASCII
    // (verified: octet_length(encode(text)) == length(text) at every SF),
    // so md5(text) == md5 of the UTF-8 blob and substr-by-chars mirrors
    // Spark's substring-by-bytes exactly.
    Query("binary_stats",
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS byte_count,
         md5(text) AS digest
         FROM documents ORDER BY doc_id""") { (s, dir) =>
      val blob = BinaryOps.toBlob(col("text"))
      corpus(s, dir, "documents")
        .select(col("doc_id"), BinaryOps.blobSize(blob).as("byte_count"),
          BinaryOps.blobDigest(blob).as("digest"))
        .orderBy("doc_id")
    },
    Query("binary_chunk_fps",
      """SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         md5(substr(text, CAST(i * 64 + 1 AS INT), 64)) AS chunk_md5
         FROM (SELECT doc_id, text,
                 unnest(range(0, greatest(CAST(ceil(length(text) / 64e0) AS BIGINT), 1))) AS i
               FROM documents)
         ORDER BY doc_id, chunk_idx""") { (s, dir) =>
      corpus(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          BinaryOps.chunkFingerprints(BinaryOps.toBlob(col("text")), 64)))
        .withColumnRenamed("pos", "chunk_idx")
        .withColumnRenamed("col", "chunk_md5")
        .orderBy("doc_id", "chunk_idx")
    },
    Query("binary_dedup",
      """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS byte_count
         FROM documents
         QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
         ORDER BY doc_id""") { (s, dir) =>
      BinaryOps.dedupByBytes("blob", "doc_id")(
        corpus(s, dir, "documents")
          .select(col("doc_id"), BinaryOps.toBlob(col("text")).as("blob")))
        .select(col("doc_id"), BinaryOps.blobSize(col("blob")).as("byte_count"))
        .orderBy("doc_id")
    },
    Query("compression_ratio", oracle = None, build = { (s, dir) =>
      // DEFLATE compression-ratio quality signal: oracle-exempt
      // (DuckDB exposes no deflate; rows-only check) — determinism,
      // the repetitive-vs-noise separation, and the empty/NULL
      // discipline are spec-asserted in ExtSpec
      TextOps.compressionSignal("doc_id", "text")(
        corpus(s, dir, "documents"))
        .orderBy("doc_id")
    }),
    Query("binary_cdc_chunks", oracle = None, build = { (s, dir) =>
      // content-defined chunking: oracle-exempt (rolling-hash state
      // machine is not SQL-expressible; rows-only check) — slice
      // integrity and boundary-shift invariance are spec-asserted in
      // BinaryOpsSpec
      corpus(s, dir, "documents")
        .select(col("doc_id"), explode(BinaryOps.contentChunkFingerprints(
          BinaryOps.toBlob(col("text")),
          minBytes = 16, avgBits = 6, maxBytes = 256)).as("c"))
        .select(col("doc_id"), col("c.offset").as("chunk_offset"),
          col("c.length").as("chunk_len"), col("c.fp").as("chunk_md5"))
        .orderBy("doc_id", "chunk_offset")
    }),
  )

  /** The mixed media fixture of media_meta and frame_samples: one
    * synthetic blob per document, by doc_id % 6 a PNG/GIF/BMP/JPEG with
    * per-doc dimensions, a WAV header, or an MP4 with a per-doc duration. */
  private def syntheticMedia(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val w = (id % 800 + 16).cast("int"); val h = (id % 600 + 16).cast("int")
    val ch = (id % 2 + 1).cast("int")
    val rate = (lit(8000) + (id % 7) * 4000).cast("int")
    val dur = (id % 7200000 + 1000).cast("int")
    val blob = when(id % 6 === 0, BinaryOps.syntheticPng(w, h))
      .when(id % 6 === 1, BinaryOps.syntheticGif(w, h))
      .when(id % 6 === 2, BinaryOps.syntheticBmp(w, h))
      .when(id % 6 === 3, BinaryOps.syntheticJpeg(w, h))
      .when(id % 6 === 4, BinaryOps.syntheticWav(ch, rate))
      .otherwise(BinaryOps.syntheticMp4(dur))
    corpus(s, dir, "documents").select(id, blob.as("blob"))
  }
}
