"""Command-line entry point — the Spark-side analog of the
reference's `node listener.js` CLI (reference: config.js:31-40 CLI
args; listener.js:209-216 entry).

Subcommands:
    list                         — print every registered query name
    run <query> [--sf-dir DIR]   — run one registry query, print rows
    explain <query> [--sf-dir D] — print the formatted physical plan
    sql "<statement>" [--sf-dir] — run ad-hoc Spark SQL over the
                                   registered table views
    sync [--store DIR] [--blocks N] [--batch N]
                                 — run the batch sync engine over a
                                   synthesized op stream (network-free)

Examples:
    python -m chain_sync_spark list
    python -m chain_sync_spark run tpch_q1_pricing_summary
    python -m chain_sync_spark explain join_multiway_revenue
    python -m chain_sync_spark sql "SELECT count(*) FROM lineitem"
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="python -m chain_sync_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    for name, help_ in [
        ("run", "run one registry query"),
        ("explain", "print a query's physical plan"),
    ]:
        s = sub.add_parser(name, help=help_)
        s.add_argument("query")
        s.add_argument("--sf-dir", default=None)
        s.add_argument("--limit", type=int, default=20)

    s = sub.add_parser("sql", help="ad-hoc SQL over the table views")
    s.add_argument("statement")
    s.add_argument("--sf-dir", default=None)
    s.add_argument("--limit", type=int, default=20)

    s = sub.add_parser("sync", help="run the batch sync engine")
    s.add_argument("--store", default=None)
    s.add_argument("--blocks", type=int, default=90)
    s.add_argument("--batch", type=int, default=30)
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)

    from chain_sync_spark.registry import all_queries

    if args.cmd == "list":
        for name in all_queries():
            print(name)
        return 0

    from chain_sync_spark.session import get_spark
    from chain_sync_spark.tables import DEFAULT_SF_DIR

    spark = get_spark("chain-sync-cli")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = getattr(args, "sf_dir", None) or DEFAULT_SF_DIR

    if args.cmd in ("run", "explain"):
        queries = all_queries()
        if args.query not in queries:
            print(f"unknown query: {args.query} (see `list`)", file=sys.stderr)
            return 2
        df = queries[args.query](spark, sf_dir)
        if args.cmd == "explain":
            df.explain("formatted")
        else:
            df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "sql":
        from chain_sync_spark.tables import register_views

        register_views(spark, sf_dir)
        spark.sql(args.statement).show(args.limit, truncate=False)
        return 0

    if args.cmd == "sync":
        import tempfile

        from chain_sync_spark.sources.blocks import synthesize_ops
        from chain_sync_spark.sync.engine import SyncEngine

        store = args.store or tempfile.mkdtemp(prefix="chain_sync_store_")
        ops = synthesize_ops(spark, n_blocks=args.blocks)
        engine = SyncEngine(spark, store_dir=store)
        engine.run(ops, batch_size=args.batch)
        print(f"store: {store}")
        return 0

    return 2


if __name__ == "__main__":
    raise SystemExit(main())
