package graft.domain

import graft.QueryDef
import graft.operators.{ChunkSink, DemuxSink, RangeBatch, SharedLoci}
import graft.sources._
import org.apache.spark.sql.functions._

/** Declared queries for the reference-parity operators (SURVEY.md §2.1
  * R2–R26). Inputs are the inline fixtures; oracles are either *semantic*
  * (DuckDB recomputes the operator from the same VALUES) or *golden*
  * (hand-derived expected output as VALUES) — both run through the driver's
  * standard hash gate.
  */
object DomainQueries {

  val all: Seq[QueryDef] = Seq(

    // R2 + R12: seq scan, tab-or-space tokenizer, arity-derived locus count.
    QueryDef("laser_seq_parse")(
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT), 'POP1', 'ind_001', CAST(3 AS BIGINT)),
        |  (CAST(1 AS BIGINT), 'POP1', 'ind_002', CAST(3 AS BIGINT)),
        |  (CAST(2 AS BIGINT), 'POP2', 'ind_003', CAST(3 AS BIGINT))
        |) t(idx, pop, indiv_id, n_loci) ORDER BY idx""".stripMargin
    ) { (s, _) =>
      SeqReader.parse(Lines.of(s, Fixtures.seqLines))
        .select("idx", "pop", "indiv_id", "n_loci").orderBy("idx")
    },

    // §1.2.1: the ARRAY<STRUCT<a,b,c>> loci encoding, exploded back out.
    QueryDef("laser_seq_explode")(
      """SELECT * FROM (VALUES
        |  ('ind_001', 0, CAST(2 AS DOUBLE), CAST(1 AS DOUBLE), CAST(0.99 AS DOUBLE)),
        |  ('ind_001', 1, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0.00 AS DOUBLE)),
        |  ('ind_001', 2, CAST(1 AS DOUBLE), CAST(1 AS DOUBLE), CAST(0.50 AS DOUBLE)),
        |  ('ind_002', 0, CAST(2 AS DOUBLE), CAST(2 AS DOUBLE), CAST(1.00 AS DOUBLE)),
        |  ('ind_002', 1, CAST(1 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0.25 AS DOUBLE)),
        |  ('ind_002', 2, CAST(0 AS DOUBLE), CAST(1 AS DOUBLE), CAST(0.75 AS DOUBLE)),
        |  ('ind_003', 0, CAST(1 AS DOUBLE), CAST(1 AS DOUBLE), CAST(0.10 AS DOUBLE)),
        |  ('ind_003', 1, CAST(2 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0.80 AS DOUBLE)),
        |  ('ind_003', 2, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0.30 AS DOUBLE))
        |) t(indiv_id, locus, a, b, c) ORDER BY indiv_id, locus""".stripMargin
    ) { (s, _) =>
      SeqReader.parse(Lines.of(s, Fixtures.seqLines))
        .select(col("indiv_id"), posexplode(col("loci")).as(Seq("locus", "l")))
        .select(col("indiv_id"), col("locus"),
          col("l.a").as("a"), col("l.b").as("b"), col("l.c").as("c"))
        .orderBy("indiv_id", "locus")
    },

    // R15+R16+R17, semantic oracle: DuckDB recomputes last-wins dedup +
    // case-insensitive order-sensitive allele match from the same VALUES.
    QueryDef("laser_shared_loci")(
      s"""WITH site(chr, pos, ref, alt) AS (VALUES ${Fixtures.slSiteValues}),
         | panel_raw(i, chr, pos, ref, alt) AS (VALUES ${Fixtures.slPanelValues}),
         | panel AS (SELECT chr, pos, arg_max(ref || '/' || alt, i) AS alleles
         |           FROM panel_raw GROUP BY chr, pos)
         | SELECT COUNT(*) AS total,
         |   CAST(SUM(CASE WHEN EXISTS (SELECT 1 FROM panel p
         |     WHERE p.chr = s.chr AND p.pos = s.pos
         |       AND LOWER(p.alleles) = LOWER(s.ref || '/' || s.alt))
         |     THEN 1 ELSE 0 END) AS BIGINT) AS shared
         | FROM site s""".stripMargin
    ) { (s, _) =>
      import s.implicits._
      val site = PanelReader.withLookup(Lines.of(s, Fixtures.slPanelLines))(panel =>
        Lines.fold(Lines.of(s, Fixtures.slSiteLines))(SharedLoci.site(_, panel.value))(_ ++ _))
      Seq((site.total, site.shared)).toDF("total", "shared")
    },

    // R5/R10/R12/R13/R14 + R22: the full wired validation set over broken
    // inputs, reported as (code, ordinal, cnt) in precedence order — the
    // complete per-code counts of the LASER pipeline's own scans.
    QueryDef("laser_validate")(
      """SELECT * FROM (VALUES
        |  ('GROUPS_FILE_TOO_MANY_COLUMNS',  4, CAST(1 AS BIGINT)),
        |  ('GROUPS_FILE_MISSING_COLUMNS',   5, CAST(1 AS BIGINT)),
        |  ('SEQ_FILE_TOO_FEW_COLUMNS',      6, CAST(1 AS BIGINT)),
        |  ('SEQ_FILE_MISSING_COLUMNS',      7, CAST(1 AS BIGINT)),
        |  ('SEQ_FILE_INCONSISTENT_COLUMNS', 8, CAST(1 AS BIGINT)),
        |  ('SEQ_SAMPLE_NOT_IN_GROUP',       9, CAST(1 AS BIGINT)),
        |  ('SITE_FILE_HEADER_NO_ID',       13, CAST(1 AS BIGINT))
        |) t(code, ordinal, cnt) ORDER BY ordinal""".stripMargin
    ) { (s, _) =>
      import s.implicits._
      val r = graft.laser.LaserPipeline.run(
        Lines.of(s, Fixtures.badSeqLines), Lines.of(s, Fixtures.badSiteLines),
        Lines.of(s, Fixtures.slPanelLines), Some(Lines.of(s, Fixtures.badGroupsLines)))
      r.errorCounts.toSeq.map { case (code, n) => (code, Errors.ordinal(code), n) }
        .toDF("code", "ordinal", "cnt").orderBy("ordinal")
    },

    // R22: precedence = enum declaration order; first error wins.
    QueryDef("laser_error_precedence")(
      """SELECT 'GROUPS_FILE_TOO_MANY_COLUMNS' AS code,
        |  'Study groups file has line(s) with more than two columns!' AS message""".stripMargin
    ) { (s, _) =>
      import s.implicits._
      val counts = Map(
        "SEQ_SAMPLE_NOT_IN_GROUP" -> 2L,
        "GROUPS_FILE_TOO_MANY_COLUMNS" -> 1L,
        "SITE_FILE_HEADER_NO_ID" -> 1L)
      val first = Errors.firstError(counts).get
      Seq((first.name, first.message)).toDF("code", "message")
    },

    // R19: chunk assignment is a pure function of the captured line index.
    QueryDef("laser_chunk_assign")(
      """SELECT CAST(i AS BIGINT) AS idx, CAST(FLOOR(i / 10) AS BIGINT) AS chunk
        | FROM range(25) t(i) ORDER BY idx""".stripMargin
    ) { (s, _) =>
      ChunkSink.assign(
        Lines.of(s, (0 until 25).map(i => s"line$i")), 10)
        .select("idx", "chunk").orderBy("idx")
    },

    // R6/R11: VCF body parse — meta/comment lines skipped, 9 fixed fields,
    // dynamic sample columns as ARRAY.
    QueryDef("trace_vcf_parse")(
      """SELECT * FROM (VALUES
        |  ('1', '10583', 'G', 'A', 2, '0/1'),
        |  ('22', '16050075', 'A', 'G', 2, '1/1')
        |) t(chrom, pos, ref, alt, n_geno, geno1) ORDER BY chrom""".stripMargin
    ) { (s, _) =>
      val parsed = VcfReader.parse(Lines.of(s, Fixtures.vcfLines))
      parsed.body.select(col("chrom"), col("pos"), col("ref"), col("alt"),
          size(col("genotypes")).as("n_geno"),
          col("genotypes").getItem(0).as("geno1"))
        .orderBy("chrom")
    },

    QueryDef("trace_vcf_samples")(
      "SELECT * FROM (VALUES ('ind_001'), ('ind_002')) t(sample) ORDER BY sample"
    ) { (s, _) =>
      import s.implicits._
      VcfReader.parse(Lines.of(s, Fixtures.vcfLines))
        .samples.toDF("sample").orderBy("sample")
    },

    // R25: range batching, semantic oracle over DuckDB range().
    QueryDef("trace_range_batch")(
      """SELECT CAST(b AS BIGINT) AS batch, printf('%05d', b) AS batch_id,
        |   CAST(b * 100 + 1 AS BIGINT) AS start,
        |   CAST(least((b + 1) * 100, 1005) AS BIGINT) AS "end"
        | FROM range(11) t(b) ORDER BY batch""".stripMargin
    ) { (s, _) =>
      RangeBatch.batches(s, 1005, 100).orderBy("batch")
    },

    // R26: arity-demux routing column.
    QueryDef("demux_route")(
      """SELECT key, CASE WHEN len(string_split(value, chr(9))) <= 2
        |   THEN 'reference_pc_var.txt' ELSE 'reference_pc.txt' END AS route
        | FROM (VALUES ('1', 'a' || chr(9) || 'b'),
        |              ('2', 'a' || chr(9) || 'b' || chr(9) || 'c'),
        |              ('3', 'x')) t(key, value)
        | ORDER BY key""".stripMargin
    ) { (s, _) =>
      import s.implicits._
      DemuxSink.route(Fixtures.demuxRows.toDF("key", "value"))
        .select("key", "route").orderBy("key")
    },

    // R24: descriptor JSON emission (golden — the JSON text is the contract).
    QueryDef("laser_descriptors")(
      """SELECT * FROM (VALUES
        |  (CAST(0 AS BIGINT),
        |   '{"reference":"HGDP","reference_pc":"HGDP.pc","seq":"/chunks/0.chunk.seq.gz","site":"study.site.gz","dim":4,"dim_high":20}',
        |   '0.batch'),
        |  (CAST(1 AS BIGINT),
        |   '{"reference":"HGDP","reference_pc":"HGDP.pc","seq":"/chunks/1.chunk.seq.gz","site":"study.site.gz","dim":4,"dim_high":20}',
        |   '1.batch')
        |) t(key, json, file) ORDER BY key""".stripMargin
    ) { (s, _) =>
      Descriptors.laserStudyPca(s, 2, "/chunks", "study.site.gz",
        "HGDP", "HGDP.pc", 4, 20).orderBy("key")
    },

    // §3.1 end-to-end: the full LASER workflow over the clean fixtures,
    // reported as one golden row (counters + gate outcome). Shared loci = 0
    // against this panel, so the informative-PCA gate fires (R23).
    QueryDef("laser_pipeline_e2e")(
      """SELECT '' AS first_error, CAST(3 AS BIGINT) AS individuals,
        |  CAST(3 AS BIGINT) AS total_loci, CAST(0 AS BIGINT) AS shared_loci,
        |  CAST(1 AS BIGINT) AS chunks, false AS ok""".stripMargin
    ) { (s, _) =>
      import s.implicits._
      val r = graft.laser.LaserPipeline.run(
        Lines.of(s, Fixtures.seqLines), Lines.of(s, Fixtures.siteLines),
        Lines.of(s, Fixtures.slPanelLines), Some(Lines.of(s, Fixtures.groupsLines)))
      Seq((r.firstError.map(_.name).getOrElse(""), r.individuals, r.totalLoci,
        r.sharedLoci, r.chunks, r.ok))
        .toDF("first_error", "individuals", "total_loci", "shared_loci", "chunks", "ok")
    },

    // §3.2 end-to-end: the TRACE workflow over the VCF fixture.
    QueryDef("trace_pipeline_e2e")(
      """SELECT '' AS first_error, CAST(2 AS BIGINT) AS individuals,
        |  CAST(2 AS BIGINT) AS total_loci, CAST(0 AS BIGINT) AS shared_loci,
        |  '{"Individuals":2,"Total loci":2,"Shared loci":0,"Format":"vcf"}' AS meta,
        |  false AS ok""".stripMargin
    ) { (s, _) =>
      import s.implicits._
      val r = graft.trace.TracePipeline.run(
        Seq("f1.vcf.gz" -> Lines.of(s, Fixtures.vcfLines)),
        Lines.of(s, Fixtures.slPanelLines), Some(Lines.of(s, Fixtures.groupsLines)))
      Seq((r.firstError.map(_.name).getOrElse(""), r.individuals, r.totalLoci,
        r.sharedLoci, r.metaJson("vcf"), r.ok))
        .toDF("first_error", "individuals", "total_loci", "shared_loci", "meta", "ok")
    },

    // R30: study meta JSON framing.
    QueryDef("trace_meta_json")(
      """SELECT '{"Individuals":2,"Total loci":2,"Shared loci":1,"Format":"vcf"}' AS meta"""
    ) { (s, _) =>
      import s.implicits._
      Seq(Descriptors.studyMetaJson(2, 2, 1, "vcf")).toDF("meta")
    },
  )
}
