"""CLI entry point — parity with the reference's schemagen binary
(/root/reference/src/bin/schemagen.rs:4-34: four required flags, writes the
DDL file as a side effect).

Usage:
    python -m parquet_to_clickhouse_schema_spark.cli \
        --parquet-path /data/t.parquet \
        --clickhouse-schema-path /tmp/schema.sql \
        --table-name t --primary-key id [--lenient]

Unlike the reference, no Spark/JVM is launched: schema inference is the
pyarrow footer path, so this runs in milliseconds on a 100 TB file's footer.

Standalone modes (each exits without the four required flags):
    --list-queries [FILTER]      operator catalog with gate status
    --drift-report DATASET_DIR   per-fragment footer drift (exit 0/3)
Day-2 mode: --diff-against OLD_PARQUET emits ALTER TABLE migration DDL.
--timings prints each dataset scan's phase timings (listing, footer reads,
Arrow->Spark conversion, rendering) and footer-read count to stderr;
stdout is unchanged.
"""

from __future__ import annotations

import argparse
import sys

from parquet_to_clickhouse_schema_spark.ddl import (
    _alter_table_ddl,
    _create_table_ddl,
    _scan_dataset,
)


def _write_timings(scans) -> None:
    for scan in scans:
        sys.stderr.write(
            f"{scan.path}: {len(scan.rels)} fragment(s), listing "
            f"{scan.listing_s:.6f} s, {scan.footers_read} footer(s) read in "
            f"{scan.footer_s:.6f} s, convert {scan.convert_s:.6f} s, render "
            f"{scan.render_s:.6f} s\n"
        )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="schemagen",
        description="Generate ClickHouse MergeTree DDL from a Parquet file's footer.",
    )
    ap.add_argument(
        "--list-queries",
        nargs="?",
        const="",
        default=None,
        metavar="FILTER",
        help="print the operator catalog (optionally filtered by substring) "
        "and exit — discoverability for the engine's query surface",
    )
    ap.add_argument(
        "--drift-report",
        default=None,
        metavar="DATASET_PATH",
        help="scan EVERY part-file footer of a directory dataset and report "
        "fragments whose schema disagrees with the first fragment, then "
        "exit (0 clean, 3 drift found) — the intra-table complement of "
        "--diff-against",
    )
    ap.add_argument(
        "--drift-cache",
        default=None,
        metavar="CACHE_JSON",
        help="per-fragment footer-fingerprint cache file (used by "
        "--drift-report AND by the CREATE path's strict drift gate) — "
        "unchanged fragments (same name, size and mtime) are served "
        "from the cache and only new or rewritten fragments have their "
        "footers read; the file is created on first run and rewritten "
        "atomically each run",
    )
    ap.add_argument(
        "--timings",
        action="store_true",
        help="print each dataset scan's phase timings (listing, footer "
        "reads, conversion, rendering) and footer-read count to stderr",
    )

    def _is_standalone_flag(a: str) -> bool:
        # exact flag (or --flag=VALUE) only: a prefix test would also
        # swallow future flags sharing the prefix and positional values,
        # silently routing typoed invocations into the standalone mode
        return a in ("--list-queries", "--drift-report") or a.startswith(
            ("--list-queries=", "--drift-report=")
        )

    raw_args = sys.argv[1:] if argv is None else argv
    if any(_is_standalone_flag(a) for a in raw_args):
        # strict parse: a typoed --parquet-path etc. must error, not vanish
        args = ap.parse_args(argv)
        if args.drift_report is not None and args.list_queries is not None:
            # each mode exits on its own; silently preferring one would
            # swallow the other request
            ap.error("--drift-report and --list-queries are mutually exclusive")
        if args.drift_report is not None:
            # one listing and one footer pass serve the partition columns,
            # the report and the cache telemetry
            scan = _scan_dataset(args.drift_report, args.drift_cache)
            scan.read_all()
            parts = scan.partition_fields(scan.first_footer().names)
            if parts:
                # partition columns live in directory names, not footers —
                # say so, or their absence from the report reads as a miss
                rendered = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}" for f in parts
                )
                sys.stdout.write(
                    f"{args.drift_report}: hive partition columns (from "
                    f"directory layout, not footers): {rendered}\n"
                )
            if args.drift_cache is not None:
                sys.stdout.write(
                    f"{args.drift_report}: {scan.footers_read} footer(s) read, "
                    f"{len(scan.rescanned)} partition(s) rescanned, "
                    f"{len(scan.reused)} served from cache\n"
                )
            drift = scan.drift_report()
            if args.timings:
                _write_timings([scan])
            if not drift:
                sys.stdout.write(
                    f"{args.drift_report}: all fragment footers agree\n"
                )
                return 0
            for d in drift:
                if d["change"] == "added":
                    detail = f"(added as {d['new_type']})"
                elif d["change"] == "removed":
                    detail = f"(removed, was {d['old_type']})"
                else:
                    detail = f"(reference {d['old_type']}, found {d['new_type']})"
                sys.stdout.write(
                    f"{d['file']}: {d['column']} {d['change']} {detail}\n"
                )
            sys.stdout.write(f"{len(drift)} disagreement(s)\n")
            return 3
        if args.timings:
            ap.error("--timings does not apply to --list-queries")
        from parquet_to_clickhouse_schema_spark.catalog import (
            describe_queries,
            format_catalog,
        )

        sys.stdout.write(
            format_catalog(describe_queries(args.list_queries or None))
        )
        return 0
    ap.add_argument("--parquet-path", required=True)
    ap.add_argument("--clickhouse-schema-path", required=True)
    ap.add_argument("--table-name", required=True)
    ap.add_argument(
        "--primary-key",
        required=True,
        help="primary key column (comma-separate for a multi-column key)",
    )
    ap.add_argument(
        "--lenient",
        action="store_true",
        help="map types the reference panics on (DECIMAL, DATE, ...) faithfully",
    )
    ap.add_argument(
        "--diff-against",
        default=None,
        metavar="OLD_PARQUET",
        help="emit ALTER TABLE statements migrating the table created from "
        "this older Parquet file to --parquet-path's schema, instead of "
        "CREATE DDL (day-2 schema evolution; footer-only like CREATE)",
    )
    ap.add_argument(
        "--unify",
        action="store_true",
        help="on a directory dataset with drifted fragment schemas, emit "
        "DDL for the promoted union schema covering every part-file "
        "instead of refusing (see --drift-report to inspect the drift)",
    )
    args = ap.parse_args(argv)
    if args.diff_against is not None:
        # the ALTER path neither unifies nor reads a cache; silently
        # dropping either flag would print an ALTER the caller did not ask for
        given = (("--unify", args.unify), ("--drift-cache", args.drift_cache is not None))
        for flag, on in given:
            if on:
                ap.error(f"--diff-against and {flag} are mutually exclusive")

    pk = [c.strip() for c in args.primary_key.split(",")] if "," in args.primary_key else args.primary_key

    # the library entry points, over scans kept for --timings
    if args.diff_against is not None:
        scans = [_scan_dataset(args.diff_against), _scan_dataset(args.parquet_path)]
        ddl = _alter_table_ddl(
            *scans,
            args.table_name,
            pk,
            strict=not args.lenient,
            out_path=args.clickhouse_schema_path,
        )
    else:
        scans = [_scan_dataset(args.parquet_path, args.drift_cache)]
        ddl = _create_table_ddl(
            scans[0],
            args.table_name,
            pk,
            out_path=args.clickhouse_schema_path,
            strict=not args.lenient,
            unify=args.unify,
        )
    sys.stdout.write(ddl)
    if args.timings:
        _write_timings(scans)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
