"""CLI — verb parity with the reference's database_management.py
(src/database_management.py:262-422) plus the companion scripts as
subcommands (refresh-views, latest-date, backfill-dates, check-drift).

Usage:
    python -m power_generation_etl_spark.cli --warehouse /path setup [table_type]
    python -m power_generation_etl_spark.cli --warehouse /path \
        load-data entsoe data.jsonl [--strict] [--report report.json]
    ... stats | clear-table T | aggregate-export OUT [--granularity g]
      | refresh-views [--source s] | latest-date SOURCE
      | backfill-dates | check-drift CROSSWALK_PARQUET
      | update-schema [table_type] | create-database | test-connection
      | sql "SELECT ..." [--limit n]
      | list-versions T | restore-table T V | vacuum-table T [--keep n]
      | diff-versions T V   (with --versioned: rewrites archive snapshots)
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from power_generation_etl_spark.engine import Engine
from power_generation_etl_spark.schemas import SOURCES
from power_generation_etl_spark.session import get_spark


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="power-generation-etl-spark")
    p.add_argument("--warehouse", required=True, help="warehouse directory")
    p.add_argument(
        "--versioned",
        action="store_true",
        help="archive the previous table state on every rewrite "
        "(enables time travel: list-versions / restore-table / "
        "vacuum-table / diff-versions)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    setup = sub.add_parser("setup")
    setup.add_argument(
        "table_type", choices=["all", *sorted(SOURCES)], default="all", nargs="?"
    )

    upd = sub.add_parser("update-schema")
    upd.add_argument(
        "table_type", choices=["all", *sorted(SOURCES)], default="entsoe", nargs="?"
    )

    sub.add_parser("create-database")
    sub.add_parser("test-connection")

    load = sub.add_parser("load-data")
    load.add_argument("source", choices=sorted(SOURCES))
    load.add_argument("file")
    load.add_argument("--strict", action="store_true")
    load.add_argument("--report")
    load.add_argument("--run-id")

    sub.add_parser("stats")

    clear = sub.add_parser("clear-table")
    clear.add_argument("table")

    cmp = sub.add_parser("compact-table")
    cmp.add_argument("table")
    cmp.add_argument("--target-file-mb", type=int, default=128)

    clu = sub.add_parser(
        "cluster-table", help="sorted compaction for row-group skipping"
    )
    clu.add_argument("table")
    clu.add_argument("--by", required=True, help="comma-separated sort columns")
    clu.add_argument("--target-file-mb", type=int, default=128)
    clu.add_argument(
        "--zorder",
        action="store_true",
        help="Morton-interleave the sort columns (multi-column skipping)",
    )

    bli = sub.add_parser(
        "bloom-index", help="per-file Bloom sidecar for point-lookup skipping"
    )
    bli.add_argument("table")
    bli.add_argument("--column", required=True)

    au = sub.add_parser(
        "audit-table", help="constraint audit: required-null + duplicate keys"
    )
    au.add_argument("source")

    dp = sub.add_parser(
        "describe-partitions", help="per-month rows/files/bytes for a table"
    )
    dp.add_argument("table")

    tib = sub.add_parser(
        "text-index", help="build a partition-pruned inverted text index"
    )
    tib.add_argument("input_parquet")
    tib.add_argument("--out", required=True)
    tib.add_argument("--id-col", default="doc_id")
    tib.add_argument("--text-col", default="text")
    tib.add_argument("--buckets", type=int, default=64)

    tis = sub.add_parser("text-search", help="search an inverted text index")
    tis.add_argument("index_dir")
    tis.add_argument("terms", nargs="+")
    tis.add_argument("--mode", choices=["and", "or"], default="and")
    tis.add_argument("--buckets", type=int, default=64)
    tis.add_argument("--limit", type=int, default=20)

    tb = sub.add_parser(
        "train-bpe", help="learn BPE merges from a parquet text corpus"
    )
    tb.add_argument("input_parquet")
    tb.add_argument("--out", required=True)
    tb.add_argument("--text-col", default="text")
    tb.add_argument("--rounds", type=int, default=8)

    be = sub.add_parser(
        "bpe-encode", help="per-doc BPE sequence lengths from a trained vocab"
    )
    be.add_argument("input_parquet")
    be.add_argument("vocab_dir")
    be.add_argument("--id-col", default="doc_id")
    be.add_argument("--text-col", default="text")

    exp = sub.add_parser("aggregate-export")
    exp.add_argument("output_dir")
    exp.add_argument(
        "--granularity", choices=["plant", "country-fuel", "country"], default="plant"
    )

    rv = sub.add_parser("refresh-views")
    rv.add_argument("--source", choices=sorted(SOURCES), default=None)
    rv.add_argument(
        "--months",
        default=None,
        help="comma-separated yyyy-MM list: incremental refresh of only "
        "these months (partition-pruned input scan) instead of a full "
        "recompute",
    )

    ld = sub.add_parser("latest-date")
    ld.add_argument("source", choices=sorted(SOURCES))

    sub.add_parser("backfill-dates")

    drift = sub.add_parser("check-drift")
    drift.add_argument("crosswalk", help="parquet path with plant_crosswalk columns")
    drift.add_argument("--output", default="drift_report.json")

    q = sub.add_parser(
        "sql", help="ad-hoc Spark SQL over warehouse tables and views"
    )
    q.add_argument("query")
    q.add_argument("--limit", type=int, default=100, help="max rows printed")

    ex = sub.add_parser(
        "explain-scale",
        help="lint a SQL query's plan for 100 TB hazards (global windows, "
        "cartesians, python evals, missing pushdown)",
    )
    ex.add_argument("query")

    ps = sub.add_parser(
        "prep-shards",
        help="pretraining data prep: quality/dedup/near-dup/pack -> JSONL shards",
    )
    ps.add_argument("docs_parquet", help="documents parquet (doc_id, text, source)")
    ps.add_argument("out_dir")
    ps.add_argument("--budget", type=int, default=2048, help="tokens per sequence")
    ps.add_argument("--neardup-threshold", type=float, default=0.5)
    ps.add_argument(
        "--benchmark-parquet",
        default=None,
        help="benchmark doc set (doc_id, text): drop training docs "
        "sharing any word n-gram with it",
    )
    ps.add_argument("--decontam-ngram", type=int, default=5)
    ps.add_argument(
        "--repetition-filter",
        action="store_true",
        help="also drop Gopher-flagged repetitive documents",
    )
    ps.add_argument(
        "--bpe-vocab",
        default=None,
        help="train-bpe output dir: pack sequences by BPE symbol "
        "counts instead of whitespace tokens",
    )
    ps.add_argument(
        "--no-redact-pii",
        action="store_true",
        help="skip email/IP/phone placeholder redaction in written shards",
    )
    ps.add_argument(
        "--c4-clean",
        action="store_true",
        help="rewrite each doc to its C4 line-cleaned form before filtering",
    )
    ps.add_argument(
        "--gopher-filter",
        action="store_true",
        help="also apply the Gopher document-quality rule bundle",
    )
    ps.add_argument(
        "--max-mean-surprisal",
        type=int,
        default=None,
        metavar="UNATS",
        help="CCNet-style perplexity gate: drop docs whose mean "
        "bigram-LM surprisal (integer micro-nats) exceeds this bound",
    )

    sp = sub.add_parser(
        "scan-pii",
        help="PII audit over a documents parquet -> JSON report",
    )
    sp.add_argument("docs_parquet", help="documents parquet (doc_id, text)")
    sp.add_argument("output", help="JSON report path")

    cr = sub.add_parser(
        "corpus-report",
        help="one-stop corpus audit (counts, langs, dup rate, quality, "
        "lengths) -> JSON",
    )
    cr.add_argument("docs_parquet", help="documents parquet (doc_id, text)")
    cr.add_argument("output", help="JSON report path")

    sub.add_parser("list-queries", help="names of all registered catalog queries")
    rq = sub.add_parser(
        "run-query", help="run one catalog query against a testdata sf dir"
    )
    rq.add_argument("name")
    rq.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.01",
        help="directory with the synthetic parquet tables",
    )
    rq.add_argument("--limit", type=int, default=50, help="max rows printed")
    rq.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of executing",
    )

    sd = sub.add_parser(
        "score-docs",
        help="linear-classifier scoring of a documents parquet -> parquet "
        "(doc_id, logit, label) + stderr summary",
    )
    sd.add_argument("docs_parquet", help="documents parquet (doc_id, text)")
    sd.add_argument("output", help="output parquet path")
    sd.add_argument("--threshold", type=int, default=0, help="keep when logit > t")

    pmf = sub.add_parser(
        "prep-media",
        help="media feature/curation pipeline: fused image "
        "decode+dHash+thumbnail (one decode per blob), banded near-dup "
        "drop, audio features, video metadata + frame features -> "
        "per-modality parquet",
    )
    pmf.add_argument("media_parquet", help="media parquet (media_id, kind, content)")
    pmf.add_argument("out_dir")
    pmf.add_argument("--max-hamming", type=int, default=6)
    pmf.add_argument("--bands", type=int, default=8)
    pmf.add_argument("--thumb", type=int, default=4, help="thumbnail side (NxN)")
    pmf.add_argument("--frames", type=int, default=4, help="sampled frames/video")

    pm = sub.add_parser(
        "probe-media",
        help="codec-free video container metadata (mp4/mkv/avi/y4m: "
        "container, codec, dimensions, duration, frame count) -> parquet",
    )
    pm.add_argument("media_parquet", help="media parquet (media_id, kind, content)")
    pm.add_argument("output", help="output parquet path")

    lv = sub.add_parser("list-versions", help="archived snapshots of a table")
    lv.add_argument("table")
    rs = sub.add_parser("restore-table", help="roll a table back to a snapshot")
    rs.add_argument("table")
    rs.add_argument("version", type=int)
    vc = sub.add_parser("vacuum-table", help="drop old snapshots beyond --keep")
    vc.add_argument("table")
    vc.add_argument("--keep", type=int, default=1)
    dv = sub.add_parser(
        "diff-versions", help="change feed: current table vs a snapshot"
    )
    dv.add_argument("table")
    dv.add_argument("version", type=int)
    dv.add_argument("--limit", type=int, default=20, help="sample rows printed")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_spark("pg-etl-cli")
    eng = Engine(spark, args.warehouse, versioned=getattr(args, "versioned", False))
    try:
        return _dispatch(args, spark, eng)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1


def _dispatch(args, spark, eng: Engine) -> int:

    if args.cmd == "setup":
        created = eng.setup(args.table_type)
        print(f"created {len(created)} tables: {', '.join(created) or '(none)'}")
    elif args.cmd == "update-schema":
        updated = eng.update_schema(args.table_type)
        print(
            f"updated {len(updated)} table schemas: {', '.join(updated) or '(none)'}"
        )
    elif args.cmd == "create-database":
        created_db = eng.create_database()
        print("created warehouse" if created_db else "warehouse already exists")
    elif args.cmd == "test-connection":
        ok = eng.test_connection()
        print("connection OK" if ok else "connection FAILED")
        return 0 if ok else 1
    elif args.cmd == "load-data":
        res = eng.load_jsonl(
            args.source,
            args.file,
            strict=args.strict,
            run_id=args.run_id,
            save_report_path=args.report,
        )
        if res.report is None:
            print(f"error: file not found: {args.file}", file=sys.stderr)
            return 1
        r = res.report
        print(
            f"inserted {res.inserted} rows "
            f"({res.skipped_existing} duplicates skipped); "
            f"valid={r.valid_count} invalid={r.invalid_count} "
            f"in-file duplicates={r.duplicate_count}"
        )
        if r.invalid_count and args.strict:
            return 1
    elif args.cmd == "stats":
        total = 0
        for table, n in eng.stats().items():
            print(f"{table:32s} {n:>12,}")
            total += n
        print(f"{'TOTAL':32s} {total:>12,}")
    elif args.cmd == "clear-table":
        n = eng.clear_table(args.table)
        print(f"cleared {n} rows from {args.table}")
    elif args.cmd == "compact-table":
        before, after = eng.compact_table(args.table, args.target_file_mb)
        print(f"compacted {args.table}: {before} -> {after} files")
    elif args.cmd == "cluster-table":
        cols = [c.strip() for c in args.by.split(",") if c.strip()]
        before, after = eng.cluster_table(
            args.table, cols, args.target_file_mb, zorder=args.zorder
        )
        mode = "z-ordered" if args.zorder else "clustered"
        print(
            f"{mode} {args.table} by ({', '.join(cols)}): "
            f"{before} -> {after} files"
        )
    elif args.cmd == "bloom-index":
        n = eng.bloom_index_table(args.table, args.column)
        print(f"bloom-indexed {n} files of {args.table} on {args.column}")
    elif args.cmd == "audit-table":
        import json as _json

        report = eng.audit_table(args.source)
        print(_json.dumps(report, indent=2, sort_keys=True))
        return 0 if report["ok"] else 1
    elif args.cmd == "describe-partitions":
        rows = eng.store.partition_stats(args.table)
        for r in rows:
            print(
                f"{r['partition']}\t{r['rows']} rows\t{r['files']} files\t"
                f"{r['bytes']} bytes"
            )
        print(f"{len(rows)} partition(s)")
    elif args.cmd == "text-index":
        from power_generation_etl_spark.operators import textindex as ti

        df = eng.spark.read.parquet(args.input_parquet)
        n = ti.build_inverted_index(
            df, args.id_col, args.text_col, args.out, n_buckets=args.buckets
        )
        print(f"indexed {n} terms into {args.out}")
    elif args.cmd == "text-search":
        from power_generation_etl_spark.operators import textindex as ti

        rows = ti.search_terms(
            eng.spark,
            args.index_dir,
            args.terms,
            mode=args.mode,
            n_buckets=args.buckets,
        ).take(args.limit)
        for r in rows:
            print(f"{r['doc_id']}\t{r['n_terms_matched']}\t{r['total_tf']}")
        print(f"{len(rows)} match(es) shown (limit {args.limit})")
    elif args.cmd == "train-bpe":
        from power_generation_etl_spark.operators import bpe

        df = eng.spark.read.parquet(args.input_parquet)
        merges = bpe.train_merges(df, args.text_col, rounds=args.rounds)
        seg = bpe.trained_segmentation(df, args.text_col, rounds=args.rounds)
        merges.write.mode("overwrite").parquet(f"{args.out}/merges.parquet")
        seg.write.mode("overwrite").parquet(f"{args.out}/vocab_seg.parquet")
        for r in merges.orderBy("round").collect():
            print(f"{r['round']}\t{r['merge']!r}\t{r['pair_count']}")
        print(f"wrote merges + segmented vocab to {args.out}")
    elif args.cmd == "bpe-encode":
        from power_generation_etl_spark.operators import bpe

        df = eng.spark.read.parquet(args.input_parquet)
        vocab = eng.spark.read.parquet(f"{args.vocab_dir}/vocab_seg.parquet")
        enc = bpe.encode_with_vocab(df, vocab, args.id_col, args.text_col)
        tot = enc.agg(
            F.sum("n_words").alias("w"), F.sum("n_symbols").alias("s")
        ).collect()[0]
        print(f"{tot['w']} words -> {tot['s']} symbols")
    elif args.cmd == "aggregate-export":
        ok, n = eng.aggregate_export(args.output_dir, args.granularity)
        print(f"exported {n} rows to {args.output_dir}")
        return 0 if ok else 1
    elif args.cmd == "refresh-views":
        if args.months:
            months = [m.strip() for m in args.months.split(",") if m.strip()]
            for v in eng.refresh_views_incremental(months, args.source):
                print(f"refreshed {v} ({','.join(months)})")
        else:
            for v in eng.refresh_views(args.source):
                print(f"refreshed {v}")
    elif args.cmd == "latest-date":
        print(eng.get_latest_date(args.source))
    elif args.cmd == "backfill-dates":
        print(f"backfilled {eng.backfill_extraction_dates()} runs")
    elif args.cmd == "sql":
        rows = eng.sql(args.query).limit(args.limit).collect()
        if rows:
            cols = rows[0].__fields__
            print("\t".join(cols))
            for r in rows:
                print("\t".join("" if v is None else str(v) for v in r))
        print(f"({len(rows)} rows)", file=sys.stderr)
    elif args.cmd == "explain-scale":
        from power_generation_etl_spark.plancheck import check_plan

        rep = check_plan(eng.sql(args.query))
        for line in rep.lines():
            print(line)
        return 0 if rep.ok else 1
    elif args.cmd == "prep-shards":
        from power_generation_etl_spark.pipelines.pretrain import (
            prepare_pretraining_shards,
        )

        docs = spark.read.parquet(args.docs_parquet)
        bench = (
            spark.read.parquet(args.benchmark_parquet)
            if args.benchmark_parquet
            else None
        )
        s = prepare_pretraining_shards(
            docs,
            args.out_dir,
            budget=args.budget,
            neardup_threshold=args.neardup_threshold,
            benchmark=bench,
            decontam_n=args.decontam_ngram,
            redact_pii=not args.no_redact_pii,
            repetition_filter=args.repetition_filter,
            c4_clean=args.c4_clean,
            gopher_filter=args.gopher_filter,
            max_mean_surprisal=args.max_mean_surprisal,
            bpe_vocab=(
                spark.read.parquet(f"{args.bpe_vocab}/vocab_seg.parquet")
                if args.bpe_vocab
                else None
            ),
        )
        print(
            f"input={s.n_input} quality={s.n_after_quality} "
            f"exact_dedup={s.n_after_exact_dedup} neardup={s.n_after_neardup} "
            f"decontam={s.n_after_decontam} "
            f"sequences={s.n_sequences} tokens={s.total_tokens}"
        )
    elif args.cmd == "scan-pii":

        from power_generation_etl_spark.operators import hygiene as hg

        docs = spark.read.parquet(args.docs_parquet)
        scan = hg.pii_scan(docs, "doc_id", "text").persist()
        totals = scan.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("has_pii")).alias("n_docs_with_pii"),
            *[
                F.sum(f"n_{k}").cast("bigint").alias(f"total_{k}")
                for k in hg.PII_PATTERNS
            ],
        ).head()
        # driver memory stays O(20) regardless of corpus size
        sample = [
            r["doc_id"]
            for r in scan.filter("has_pii").orderBy("doc_id").limit(20).collect()
        ]
        scan.unpersist()
        report = {**totals.asDict(), "sample_doc_ids": sample}
        with open(args.output, "w") as f:
            json.dump(report, f, indent=2)
        print(
            f"{report['n_docs_with_pii']}/{report['n_docs']} docs with PII "
            f"→ {args.output}"
        )
        return 1 if report["n_docs_with_pii"] > 0 else 0
    elif args.cmd == "corpus-report":

        from power_generation_etl_spark.operators import text as tx

        docs = spark.read.parquet(args.docs_parquet)
        m = tx.quality_metrics(F.col("text"))
        enriched = docs.select(
            "doc_id",
            tx.exact_dup_key(F.col("text")).alias("_fp"),
            tx.quality_pass(m).alias("_qp"),
            m["n_tokens"].alias("_ntok"),
            F.length("text").alias("_len"),
        ).persist()
        tot = enriched.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("_fp").alias("n_unique"),
            F.count_if(F.col("_qp")).alias("n_quality_pass"),
            F.sum("_ntok").cast("bigint").alias("total_tokens"),
            F.min("_len").alias("min_chars"),
            F.expr("percentile(_len, 0.5)").alias("median_chars"),
            F.max("_len").alias("max_chars"),
        ).head()
        langs = {
            r["predicted_lang"]: r["n"]
            for r in tx.score_langs(docs, "doc_id", "text")
            .groupBy("predicted_lang")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        enriched.unpersist()
        n = tot["n_docs"]
        report = {
            "n_docs": n,
            "n_unique": tot["n_unique"],
            "exact_dup_rate": round(1 - tot["n_unique"] / n, 4) if n else None,
            "quality_pass_rate": round(tot["n_quality_pass"] / n, 4) if n else None,
            "total_tokens": tot["total_tokens"],
            "chars": {
                "min": tot["min_chars"],
                "median": tot["median_chars"],
                "max": tot["max_chars"],
            },
            "predicted_langs": langs,
        }
        with open(args.output, "w") as f:
            json.dump(report, f, indent=2)
        print(f"{n} docs, dup_rate={report['exact_dup_rate']} → {args.output}")
    elif args.cmd == "check-drift":
        cw = spark.read.parquet(args.crosswalk)
        rep = eng.check_crosswalk_drift(cw)
        with open(args.output, "w") as f:
            json.dump(rep, f, indent=2)
        print(f"total_missing={rep['total_missing']} → {args.output}")
        return 1 if rep["total_missing"] > 0 else 0
    elif args.cmd == "list-queries":
        from power_generation_etl_spark.plans import ORACLES, QUERIES

        for name in sorted(QUERIES):
            tag = "oracle" if name in ORACLES else "rows-only"
            print(f"{name:36s} {tag}")
        print(f"({len(QUERIES)} queries)", file=sys.stderr)
    elif args.cmd == "run-query":
        from power_generation_etl_spark.plans import QUERIES

        if args.name not in QUERIES:
            raise ValueError(f"unknown query: {args.name} (see list-queries)")
        if args.explain:
            QUERIES[args.name](spark, args.sf_dir).explain(mode="formatted")
            return 0
        rows = QUERIES[args.name](spark, args.sf_dir).limit(args.limit).collect()
        if rows:
            print("\t".join(rows[0].__fields__))
            for r in rows:
                print("\t".join("" if v is None else str(v) for v in r))
        print(f"({len(rows)} rows)", file=sys.stderr)
    elif args.cmd == "score-docs":
        from power_generation_etl_spark.operators import scoring as sc

        docs = spark.read.parquet(args.docs_parquet)
        scored = sc.score_documents(
            spark, docs, "doc_id", "text", threshold=args.threshold
        )
        scored.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
        kept = out.where(F.col("label") == "keep").count()
        total = out.count()
        print(f"scored {total} docs: keep={kept} drop={total - kept} → {args.output}")
    elif args.cmd == "prep-media":
        import json as _json

        from power_generation_etl_spark.pipelines.media import (
            prepare_media_features,
        )

        media = spark.read.parquet(args.media_parquet)
        s = prepare_media_features(
            media,
            args.out_dir,
            max_hamming=args.max_hamming,
            bands=args.bands,
            thumb_h=args.thumb,
            thumb_w=args.thumb,
            n_frames=args.frames,
        )
        print(_json.dumps(s.as_dict()))
    elif args.cmd == "probe-media":
        from power_generation_etl_spark.operators.multimodal import (
            probe_video_metadata,
        )

        media = spark.read.parquet(args.media_parquet)
        probe_video_metadata(media).write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
        by = {
            r["container"] or "(unknown)": r["n"]
            for r in out.groupBy("container")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        total = sum(by.values())
        summary = ", ".join(f"{k}={v}" for k, v in sorted(by.items()))
        print(f"probed {total} videos: {summary} → {args.output}")
    elif args.cmd == "list-versions":
        vs = eng.store.versions(args.table)
        for v in vs:
            print(f"v{v}  {eng.table(args.table, version=v).count():>12,} rows")
        print(f"({len(vs)} archived versions)")
    elif args.cmd == "restore-table":
        eng.store.restore(args.table, args.version)
        print(f"restored {args.table} to v{args.version}")
    elif args.cmd == "vacuum-table":
        removed = eng.store.vacuum(args.table, keep=args.keep)
        print(f"vacuumed {removed} snapshots (kept newest {args.keep})")
    elif args.cmd == "diff-versions":
        # one execution of the two exceptAll passes serves both the
        # count aggregation and the printed sample
        diff = eng.store.diff_versions(
            args.table, args.version, rows=eng.resolver(args.table)
        ).localCheckpoint()
        counts = {
            r["_change"]: r["n"]
            for r in diff.groupBy("_change").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        print(
            f"inserts={counts.get('insert', 0)} deletes={counts.get('delete', 0)}"
        )
        for r in diff.limit(args.limit).collect():
            print("\t".join("" if v is None else str(v) for v in r))
    return 0


if __name__ == "__main__":
    sys.exit(main())
