"""spark-submit entrypoint:

    spark-submit --py-files libpostal_spark.zip -m libpostal_spark \
        --input /path/to/files_table --output /path/to/out \
        --checkpoint /path/to/ckpt [--format parquet|iceberg] [--k 5] ...

Runs the full dedup pipeline (resumable via the checkpoint store) and writes
the cluster-assignment table. On a cluster, --format iceberg reads/writes
catalog tables; the sandbox fallback is parquet paths.
"""

from __future__ import annotations

import argparse
import json
import sys

from .config import PipelineConfig
from .pipeline import DedupPipeline
from .session import get_spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="libpostal_spark")
    p.add_argument("--input", required=True, help="files table (parquet path or iceberg table)")
    p.add_argument("--output", required=True, help="clusters output (parquet path or iceberg table)")
    p.add_argument("--checkpoint", default=None, help="checkpoint root for resumable runs")
    p.add_argument(
        "--format",
        default="parquet",
        choices=["parquet", "iceberg", "table"],
        help="parquet: path in/out. iceberg: catalog tables via the Iceberg "
        "runtime (requires the iceberg-spark-runtime jar on the cluster; "
        "this sandbox ships none — tests/test_cli.py pins the exact "
        "failure). table: session-catalog tables (read.table/saveAsTable) — "
        "the same catalog surface, runnable on stock Spark.",
    )
    p.add_argument("--master", default=None)
    p.add_argument("--k", type=int, default=5, dest="k_shingle")
    p.add_argument("--num-perm", type=int, default=128)
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--rows-per-band", type=int, default=4)
    p.add_argument("--threshold", type=float, default=0.7, dest="jaccard_threshold")
    p.add_argument(
        "--expand",
        action="store_true",
        help="fold code abbreviations via the shipped expansion dictionary "
        "(libpostal_spark.dictionaries) before shingling",
    )
    p.add_argument(
        "--dict-components",
        default=None,
        help="comma-separated dictionary classes to activate (qualifier, "
        "concatenated_suffix_separable, stopword, synonym, "
        "ambiguous_expansion) — the normalize-options component mask over "
        "the classed gazetteer; implies --expand",
    )
    p.add_argument(
        "--transliterate",
        action="store_true",
        help="fold non-ASCII Latin identifiers to ASCII (CLDR Latin-ASCII "
        "analog) before tokenization",
    )
    p.add_argument(
        "--fold-spelled-numbers",
        action="store_true",
        help="numex: fold spelled-out numbers to digits before hashing "
        "('three hundred twenty one' -> 321; src/numex.c analog)",
    )
    p.add_argument(
        "--numex-lang",
        default="en",
        choices=["en", "fr", "de", "es", "it", "pt", "nl", "ru", "zh",
                 "ja"],
        help="numex rule-table language (the reference applies the table "
        "of the language in effect; fr/de/es added in round 7)",
    )
    p.add_argument("--seed", type=int, default=42)
    p.add_argument(
        "--parse-address-col",
        default=None,
        metavar="COLUMN",
        help="instead of the dedup pipeline, tag the given address column "
        "with the sequence parser (the reference's address_parser_cli "
        "analog) and write the input plus a tags_pred column",
    )
    p.add_argument(
        "--parser-model",
        default="greedy",
        choices=["greedy", "crf"],
        help="parser model type: greedy averaged perceptron (reference "
        "default) or the Viterbi-decoded CRF",
    )
    args = p.parse_args(argv)

    expansions: tuple = ()
    if args.dict_components:
        from .dictionaries import ALL_COMPONENTS, entries_for_components

        classes = tuple(
            c.strip() for c in args.dict_components.split(",") if c.strip()
        )
        if not classes:
            p.error("--dict-components: no dictionary classes given")
        try:
            entries = entries_for_components(classes, root=True)
        except ValueError as e:
            p.error(f"--dict-components: {e}; valid: {', '.join(ALL_COMPONENTS)}")
        # sorted pairs → deterministic config_hash for checkpoint keying
        expansions = tuple(sorted(entries.items()))
    elif args.expand:
        from .dictionaries import DEFAULT_CODE_EXPANSIONS

        expansions = DEFAULT_CODE_EXPANSIONS
    cfg = PipelineConfig(
        k_shingle=args.k_shingle,
        num_perm=args.num_perm,
        bands=args.bands,
        rows_per_band=args.rows_per_band,
        jaccard_threshold=args.jaccard_threshold,
        token_expansions=expansions,
        transliterate=args.transliterate,
        fold_spelled_numbers=args.fold_spelled_numbers,
        numex_lang=args.numex_lang,
        seed=args.seed,
    )
    spark = get_spark(app_name="libpostal_spark_job", master=args.master)
    if args.format == "iceberg":
        files = spark.read.format("iceberg").load(args.input)
    elif args.format == "table":
        files = spark.read.table(args.input)
    else:
        files = spark.read.parquet(args.input)

    if args.parse_address_col:
        from .operators import parser as addr_parser

        if args.parse_address_col not in files.columns:
            p.error(
                f"--parse-address-col: column {args.parse_address_col!r} "
                f"not in input (has: {', '.join(files.columns)})"
            )
        parse = (
            addr_parser.parse_addresses
            if args.parser_model == "greedy"
            else addr_parser.parse_addresses_crf
        )
        # persist: the write and the row count would otherwise each run
        # the full decode pass
        tagged = parse(files, address_col=args.parse_address_col).persist()
        if args.format == "iceberg":
            tagged.writeTo(args.output).createOrReplace()
        elif args.format == "table":
            tagged.write.mode("overwrite").saveAsTable(args.output)
        else:
            tagged.write.mode("overwrite").parquet(args.output)
        print(json.dumps(dict(
            mode="parse_addresses",
            model=args.parser_model,
            n_rows=tagged.count(),
        )))
        spark.stop()
        return 0

    pipe = DedupPipeline(spark, cfg, checkpoint_root=args.checkpoint)
    res = pipe.run(files)
    if args.format == "iceberg":
        res.clusters.writeTo(args.output).createOrReplace()
    elif args.format == "table":
        res.clusters.write.mode("overwrite").saveAsTable(args.output)
    else:
        res.clusters.write.mode("overwrite").parquet(args.output)

    summary = dict(
        config_hash=cfg.config_hash,
        n_files=res.clusters.count(),
        n_components=res.clusters.select("component").distinct().count(),
        bucket_stats=[r.asDict() for r in res.bucket_stats.collect()],
        metrics=res.metrics,
    )
    print(json.dumps(summary, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
