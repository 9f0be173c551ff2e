"""CLI — run the engine the way the reference app ran
(`spark-submit` of one job producing analytic.json; README.adoc:6-10).

    python -m mrtweety_analytic_spark trending  --sf-dir DIR --out analytic.json
    python -m mrtweety_analytic_spark stream    --sf-dir DIR --out analytic.json
    python -m mrtweety_analytic_spark query NAME --sf-dir DIR [--show N]

`trending` runs the flagship batch query and writes the reference's
{items, datetime} result document once. `stream` replays the events
table through the 15-min/10-s windowed pipeline (10-s panes, summed
by the foreachBatch top-k file sink) — the full R1–R11 loop. `query`
runs any registered operator and prints rows.
"""

from __future__ import annotations

import argparse
import os
import sys

# ≙ reference result-file contract (SparkApplication.scala:40-42):
# the RESULT_FILENAME env var overrides the default analytic.json.
_DEFAULT_OUT = os.environ.get("RESULT_FILENAME", "analytic.json")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mrtweety_analytic_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--sf-dir", default="/root/testdata/sf0.001")

    t = sub.add_parser("trending", parents=[common])
    t.add_argument("--out", default=_DEFAULT_OUT)
    t.add_argument("--k", type=int, default=5)

    s = sub.add_parser("stream", parents=[common])
    s.add_argument("--out", default=_DEFAULT_OUT)
    s.add_argument("--window", default="15 minutes")
    s.add_argument("--slide", default="10 seconds")
    s.add_argument(
        "--live",
        action="store_true",
        help="run the reference's live loop: processingTime trigger "
        "(= --slide) over the tweet-JSON stream source + "
        "awaitTermination, instead of the availableNow replay",
    )
    s.add_argument(
        "--telemetry",
        action="store_true",
        help="print per-batch progress telemetry (rows, rate, state "
        "size) after the run",
    )
    s.add_argument(
        "--duration",
        type=float,
        default=0.0,
        help="with --live: stop after this many seconds (0 = run "
        "until interrupted, the reference's mode)",
    )

    q = sub.add_parser("query", parents=[common])
    q.add_argument("name")
    q.add_argument("--show", type=int, default=20)
    q.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of rows",
    )

    d = sub.add_parser("dedup", parents=[common])
    d.add_argument("--out", default="documents_dedup.parquet")

    pl = sub.add_parser(
        "pipeline",
        parents=[common],
        help="run a JSON-spec corpus-curation pipeline over documents",
    )
    pl.add_argument("--spec", required=True, help="path to spec JSON")
    pl.add_argument("--out", default="documents_curated.parquet")
    pl.add_argument(
        "--report",
        action="store_true",
        help="count survivors after each stage (one job per stage)",
    )

    ex = sub.add_parser(
        "export",
        parents=[common],
        help="run the full curate->rebalance->shard training export "
        "and write the sharded corpus + manifest",
    )
    ex.add_argument("--out", default="training_export")
    ex.add_argument(
        "--full",
        action="store_true",
        help="also run the leakage-safe split + benchmark "
        "decontamination gates (q_training_export_full); the "
        "manifest gains per-shard n_decontaminated accounting",
    )

    sq = sub.add_parser(
        "sql",
        parents=[common],
        help="run ad-hoc SQL with the corpus tables registered as "
        "temp views (region nation customer supplier part orders "
        "lineitem events documents embeddings)",
    )
    sq.add_argument("statement", help="SQL text, or @path/to/file.sql")
    sq.add_argument("--show", type=int, default=20)
    sq.add_argument(
        "--out", default=None, help="write the result as parquet here"
    )

    args = p.parse_args(argv)
    if args.cmd == "stream":
        from .streaming.pipeline import check_window

        try:
            check_window(args.window, args.slide)
        except ValueError as e:
            p.error(str(e))

    from .queries import QUERIES
    from .session import get_spark

    spark = get_spark("mrtweety-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "trending":
        from .streaming.sink import render_document, write_result_file

        rows = [
            {"hashtag": r["term"], "count": r["cnt"]}
            for r in QUERIES["q_text_trending"](spark, args.sf_dir).collect()
        ]
        write_result_file(args.out, render_document(rows[: args.k]))
        print(f"wrote {args.out}: {rows[: args.k]}")
        return 0

    if args.cmd == "stream" and args.live:
        # ≙ SparkApplication.scala:37 (10 s batch interval) + :97-102
        # (start + awaitTermination): the genuine live trigger loop.
        from .streaming.live import start_live_topk

        query = start_live_topk(
            spark,
            args.out,
            trigger=args.slide,
            window=args.window,
            slide=args.slide,
        )
        print(
            f"live stream started: trigger every {args.slide}, "
            f"writing top-5 to {args.out}"
        )
        if args.duration > 0:
            query.awaitTermination(timeout=args.duration)
            query.stop()
            query.awaitTermination()
        else:
            query.awaitTermination()
        print(f"live stream stopped; latest document at {args.out}")
        return 0

    if args.cmd == "stream":
        from pyspark.sql import functions as F

        from .sources import load_events_stream
        from .streaming.pipeline import windowed_counts
        from .streaming.sink import TopKFileSink

        events = load_events_stream(spark, args.sf_dir).select(
            "ts", F.col("event_type").alias("hashtag")
        )
        counts = windowed_counts(
            events, window=args.window, slide=args.slide, watermark="1 minute"
        )
        rec = None
        if args.telemetry:
            from .streaming import telemetry

            rec = telemetry.attach(spark)
        # The sink sums the trailing window's panes and takes the
        # top-5 (≙ foreachRDD(save), SparkApplication.scala:92-95).
        emit = TopKFileSink(args.out, k=5, window=args.window)
        query = (
            counts.writeStream.outputMode("update")
            .foreachBatch(emit)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(timeout=600)
        print(f"stream replay complete; latest window written to {args.out}")
        if rec is not None:
            rec.wait_for(1)
            for r in rec.records:
                print(
                    f"batch {r['batch_id']}: {r['input_rows']} rows, "
                    f"{r['rows_per_sec']:.0f} rows/s, "
                    f"state {r['state_rows']} rows in "
                    f"{r['state_partitions']} partitions, "
                    f"commit {r['state_commit_ms']} ms"
                )
            print(rec.summary())
        return 0

    if args.cmd == "dedup":
        from .operators.dedup import dedup_corpus
        from .sources import load_table

        docs = load_table(spark, args.sf_dir, "documents")
        _, final = dedup_corpus(docs)
        final.write.mode("overwrite").parquet(args.out)
        n_raw, n_kept = docs.count(), spark.read.parquet(args.out).count()
        print(f"wrote {args.out}: kept {n_kept}/{n_raw} documents")
        return 0

    if args.cmd == "pipeline":
        import json as _json

        from .pipeline_spec import compile_pipeline, run_pipeline_with_report

        with open(args.spec) as fh:
            spec = _json.load(fh)
        if args.report:
            df, report = run_pipeline_with_report(spark, args.sf_dir, spec)
            for stage, n in report:
                print(f"{stage:16s} {n} docs")
        else:
            df = compile_pipeline(spark, args.sf_dir, spec)
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}: {spark.read.parquet(args.out).count()} docs")
        return 0

    if args.cmd == "export":
        import json as _json

        from .operators.lifecycle import (
            export_full_manifest,
            export_manifest,
            training_export_frame,
            training_export_full_frames,
        )

        # Manifest aggregates run over the SAME frames the data write
        # materialized (persisted by the frame builders) — re-invoking
        # the registered query would run the expensive funnel(+cluster
        # +decontamination) pipeline a second time and, in --full
        # mode, unpersist the first call's cached frames mid-command
        # (ADVICE r12).
        if args.full:
            kept, cont = training_export_full_frames(spark, args.sf_dir)
            manifest_df = export_full_manifest(kept, cont)
        else:
            kept = training_export_frame(spark, args.sf_dir)
            manifest_df = export_manifest(kept)
        data_dir = os.path.join(args.out, "data")
        kept.write.mode("overwrite").partitionBy("shard").parquet(data_dir)
        manifest = [
            {
                "shard": r.shard,
                "n_docs": r.n_docs,
                "sum_chars": r.sum_chars,
                **(
                    {"n_decontaminated": r.n_decontaminated}
                    if args.full
                    else {}
                ),
            }
            for r in sorted(
                manifest_df.collect(),
                key=lambda r: r.shard,
            )
        ]
        mpath = os.path.join(args.out, "manifest.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump({"shards": manifest}, fh, indent=2)
        os.replace(tmp, mpath)
        total = sum(m["n_docs"] for m in manifest)
        print(f"wrote {data_dir}: {total} docs in {len(manifest)} shards")
        print(f"wrote {mpath}")
        return 0

    if args.cmd == "sql":
        from .sources import TABLES, load_table

        for t_name in TABLES:
            load_table(spark, args.sf_dir, t_name).createOrReplaceTempView(
                t_name
            )
        stmt = args.statement
        if stmt.startswith("@"):
            with open(stmt[1:]) as fh:
                stmt = fh.read()
        df = spark.sql(stmt)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            df.show(args.show, truncate=False)
        return 0

    if args.cmd == "query":
        if args.name not in QUERIES:
            print(
                f"unknown query {args.name!r}; known: {', '.join(sorted(QUERIES))}",
                file=sys.stderr,
            )
            return 2
        df = QUERIES[args.name](spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        else:
            df.show(args.show, truncate=False)
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
