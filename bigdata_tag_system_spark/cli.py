"""CLI — drop-in surface for the reference's ``main.py`` modes.

The reference exposes 13 modes (7 legacy + 6 "-parallel",
``main.py:45-68``); the legacy/parallel split exists there because the
legacy path runs one Spark job per rule while the parallel path batches
them (``src/engine/tag_computer.py:99-151``). Here one-pass evaluation is
the only path, so both spellings of a mode map to the same scenario:

    full, full-parallel                        → scenario 1
    incremental, incremental-parallel          → scenario 2
    tags, tags-parallel                        → scenario 3
    incremental-tags, incremental-tags-parallel→ scenario 4
    users, users-parallel                      → scenario 5
    user-tags, user-tags-parallel              → scenario 6
    health                                     → session + storage probe

Storage is file-based (parquet) by default — rule catalog from a parquet
or JSON-lines file, fact tables from parquet paths, result store a
parquet directory upserted via full-outer merge (the Delta ``MERGE
INTO`` analogue; swap :func:`jdbc_upsert` in for a database store).

Example::

    python -m bigdata_tag_system_spark --mode tags-parallel \
        --facts user=/data/user_basic_info \
        --rules /data/rule_catalog --store /data/user_tags \
        --tag-ids 1,3,5
"""

from __future__ import annotations

import argparse
import json
import os
import sys

MODE_TO_SCENARIO = {
    "full": 1, "full-parallel": 1,
    "incremental": 2, "incremental-parallel": 2,
    "tags": 3, "tags-parallel": 3,
    "incremental-tags": 4, "incremental-tags-parallel": 4,
    "users": 5, "users-parallel": 5,
    "user-tags": 6, "user-tags-parallel": 6,
}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="bigdata_tag_system_spark",
        description="Rule-driven tag computation engine (PySpark)")
    p.add_argument("--mode", required=True,
                   choices=["health", "dedup-corpus", "quality-audit",
                            *MODE_TO_SCENARIO])
    p.add_argument("--env", metavar="NAME|FILE.json",
                   help="environment profile (built-in name, registered name, "
                        "or JSON file) supplying session conf and store/rules "
                        "defaults; explicit flags override "
                        "(see bigdata_tag_system_spark.config)")
    p.add_argument("--facts", action="append", default=[],
                   metavar="[NAME=]PATH",
                   help="fact table parquet path; repeat for multi-table rules")
    p.add_argument("--rules", help="rule catalog: parquet dir or .json/.jsonl file")
    p.add_argument("--store", help="result-store parquet directory (read+upsert)")
    p.add_argument("--store-buckets", type=int, default=None, metavar="N",
                   help="bucket the result store by the user key into N buckets "
                        "(0 = plain parquet). Bucketing pre-shuffles the store "
                        "on disk, so every incremental merge reads it with no "
                        "Exchange; N is part of the on-disk layout — keep it "
                        "constant for the life of a store directory")
    p.add_argument("--output", help="write result here instead of --store")
    p.add_argument("--on-duplicates", default="error",
                   choices=["error", "dedupe", "allow"],
                   help="duplicate-user-key policy for store upserts: the "
                        "scenario output is one row per FACT row, so a fact "
                        "table with duplicate user keys would fan out through "
                        "the merge join and silently duplicate store rows. "
                        "error (default) raises with sample keys; dedupe keeps "
                        "one deterministic row per key; allow skips the probe "
                        "when uniqueness is guaranteed upstream")
    p.add_argument("--tag-ids", help="comma-separated tag ids (tags/user-tags modes)")
    p.add_argument("--user-ids", help="comma-separated user ids (users/user-tags modes)")
    p.add_argument("--days", type=int, default=1,
                   help="incremental lookback days (reserved, parity with reference)")
    p.add_argument("--as-of", help="pin relative-date operators to this date (YYYY-MM-DD)")
    p.add_argument("--computed-date", help="stamp profiles with this date")
    p.add_argument("--user-col", default=None)
    p.add_argument("--dry-run", action="store_true",
                   help="plan + row count only; no write")
    p.add_argument("--dedup-method", default="minhash",
                   choices=["exact", "minhash"],
                   help="dedup-corpus mode: exact digests or MinHash+LSH "
                        "near-dup clustering")
    p.add_argument("--threshold", type=float, default=0.8,
                   help="dedup-corpus mode: Jaccard threshold (minhash)")
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--audit-spec", metavar="FILE.json",
                   help="quality-audit mode: JSON with not_null / unique / "
                        "accepted_values / ranges keys")
    p.add_argument("--log-level", default=None,
                   choices=["DEBUG", "INFO", "WARN", "ERROR"])
    return p


def _load_rules(spark, path: str):
    from bigdata_tag_system_spark.rules.model import load_rules
    from bigdata_tag_system_spark.sources.readers import read_rule_catalog

    if path.endswith((".json", ".jsonl")):
        with open(path) as fh:
            text = fh.read().strip()
        rows = json.loads(text) if text.startswith("[") else [
            json.loads(line) for line in text.splitlines() if line.strip()]
        return load_rules(rows)
    return read_rule_catalog(spark, path)


def _load_facts(spark, specs: list[str], rules, user_col: str):
    from bigdata_tag_system_spark.sources.catalog import TableCatalog

    if not specs:
        raise SystemExit("--facts is required for compute modes")
    if len(specs) == 1 and "=" not in specs[0]:
        return spark.read.parquet(specs[0])
    cat = TableCatalog(spark, key=user_col)
    for spec in specs:
        name, _, path = spec.partition("=")
        cat.register(name, path)
    return cat.facts_for_rules(rules)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    # env profile supplies session conf + store/rules defaults; explicit
    # flags always win (reference precedence: env config < CLI args)
    env_cfg = None
    if args.env or "SPARK_GRAFT_ENV" in os.environ:
        from bigdata_tag_system_spark.config import load_env

        env_cfg = load_env(args.env)
        args.store = args.store or env_cfg.store.path
        args.rules = args.rules or env_cfg.store.rules_path
        args.user_col = args.user_col or env_cfg.store.user_col
        args.log_level = args.log_level or env_cfg.log_level
        if args.store_buckets is None:
            args.store_buckets = env_cfg.store.buckets
    args.user_col = args.user_col or "user_id"
    args.log_level = args.log_level or "WARN"
    args.store_buckets = args.store_buckets or 0

    if env_cfg is not None:
        spark = env_cfg.session(app_name=f"tag-engine-{args.mode}")
    else:
        from bigdata_tag_system_spark.session import get_spark

        spark = get_spark(app_name=f"tag-engine-{args.mode}")
    spark.sparkContext.setLogLevel(args.log_level)

    if args.mode == "dedup-corpus":
        # corpus in (--facts, one parquet path), kept corpus out
        # (--output): exact digests or the full LSH→components→keep-one
        # pipeline; counts printed as one JSON line for schedulers
        from bigdata_tag_system_spark.operators import dedup as _dedup

        if len(args.facts) != 1 or not args.output:
            raise SystemExit(
                "dedup-corpus needs exactly one --facts path and --output")
        path = args.facts[0].partition("=")[2] or args.facts[0]
        corpus = spark.read.parquet(path)
        if args.dedup_method == "exact":
            kept = _dedup.exact_dedup(
                corpus, text_col=args.text_col, id_col=args.id_col)
        else:
            pairs = _dedup.minhash_dedup(
                corpus, text_col=args.text_col, id_col=args.id_col,
                threshold=args.threshold)
            kept = _dedup.dedup_by_components(
                corpus, pairs, id_col=args.id_col)
        kept.write.mode("overwrite").parquet(args.output)
        n_in = corpus.count()
        n_out = spark.read.parquet(args.output).count()
        print(json.dumps({"mode": "dedup-corpus",
                          "method": args.dedup_method,
                          "rows_in": n_in, "rows_kept": n_out,
                          "rows_dropped": n_in - n_out}))
        return 0

    if args.mode == "quality-audit":
        # CI-gate shape: JSON expectation spec in, one JSON line out,
        # non-zero exit when any check fails
        from bigdata_tag_system_spark.operators.quality import (
            expectation_report,
        )

        if len(args.facts) != 1 or not args.audit_spec:
            raise SystemExit(
                "quality-audit needs exactly one --facts path and "
                "--audit-spec FILE.json")
        path = args.facts[0].partition("=")[2] or args.facts[0]
        with open(args.audit_spec) as f:
            spec = json.load(f)
        report = expectation_report(
            spark.read.parquet(path),
            not_null=spec.get("not_null", ()),
            unique=spec.get("unique", ()),
            accepted_values=spec.get("accepted_values"),
            ranges={k: tuple(v) for k, v in
                    (spec.get("ranges") or {}).items()},
        ).collect()
        out = [{"check": r.check, "violations": r.violations,
                "ok": r.ok} for r in report]
        print(json.dumps({"mode": "quality-audit", "checks": out,
                          "ok": all(c["ok"] for c in out)}))
        return 0 if all(c["ok"] for c in out) else 1

    if args.mode == "health":
        probe = spark.range(1).count()
        ok = probe == 1
        for spec in args.facts:
            path = spec.partition("=")[2] or spec
            try:
                spark.read.parquet(path).limit(1).count()
            except Exception as exc:  # noqa: BLE001 — report, don't crash
                print(f"FAIL fact table {path}: {exc}")
                ok = False
        print("health: OK" if ok else "health: FAIL")
        return 0 if ok else 1

    from bigdata_tag_system_spark.plans.scenarios import ScenarioRunner

    rules = _load_rules(spark, args.rules) if args.rules else []
    if not rules:
        raise SystemExit("no active rules loaded (--rules)")
    facts = _load_facts(spark, args.facts, rules, args.user_col)

    from bigdata_tag_system_spark.sources.writers import read_store_if_exists

    if args.store and args.store_buckets:
        from bigdata_tag_system_spark.sources.bucketed_store import read_bucketed_store

        existing = read_bucketed_store(
            spark, args.store, args.user_col, args.store_buckets)
    elif args.store:
        existing = read_store_if_exists(spark, args.store)
    else:
        existing = None

    tag_ids = [int(x) for x in args.tag_ids.split(",")] if args.tag_ids else None
    user_keys = args.user_ids.split(",") if args.user_ids else None
    if user_keys and dict(facts.dtypes).get(args.user_col, "").startswith(
            ("int", "bigint", "long")):
        user_keys = [int(x) for x in user_keys]

    runner = ScenarioRunner(rules, user_col=args.user_col, as_of=args.as_of)
    scenario = MODE_TO_SCENARIO[args.mode]
    merged = runner.run(
        scenario, facts, existing=existing, tag_ids=tag_ids,
        user_keys=user_keys, computed_date=args.computed_date)

    guarded = None
    if args.store and existing is not None and scenario != 1:
        # every scenario except full-overwrite is a per-key upsert: fold
        # the store back in (keys new ∪ old). Scenario 5 in particular
        # overwrites ONLY the selected users' rows — without this fold it
        # would wipe every other user's stored profile.
        # The scenario output is one row per FACT row (profiles are a
        # single-pass select, not a groupBy on the user key), so a fact
        # table carrying duplicate user keys would fan out through the
        # full-outer merge and silently duplicate store rows — guard it.
        # Under the default "error" policy the probe persists the frame,
        # so the scenario DAG computes once (probe and write both read
        # the cache); --on-duplicates allow skips probe+persist entirely.
        # The fold merges against the store frame already read above (for
        # a bucketed store, the registered table scan, so the store side
        # of the full-outer join runs Exchange-free).
        from bigdata_tag_system_spark.sources.writers import (
            merge_upsert_frames,
            resolve_duplicate_keys,
        )

        guarded = resolve_duplicate_keys(
            merged, [args.user_col], args.on_duplicates)
        merged = merge_upsert_frames(guarded, existing, key_cols=[args.user_col])

    try:
        if args.dry_run:
            merged.explain("formatted")
            print(f"rows: {merged.count()}")
            return 0

        target = args.output or args.store
        if not target:
            raise SystemExit("--store or --output required (or use --dry-run)")
        if target == args.store and args.store_buckets:
            from bigdata_tag_system_spark.sources.bucketed_store import write_bucketed_store

            write_bucketed_store(
                spark, merged, target, args.user_col, args.store_buckets)
        elif target == args.store and existing is not None:
            # parquet can't be rewritten while its scan is live: stage then swap
            from bigdata_tag_system_spark.sources.writers import _rewrite_store

            _rewrite_store(merged, target)
        else:
            merged.write.mode("overwrite").parquet(target)
        print(f"wrote scenario {scenario} result to {target}")
        return 0
    finally:
        # release the duplicate-probe cache once the write has consumed it
        if guarded is not None and guarded.is_cached:
            guarded.unpersist()


if __name__ == "__main__":
    sys.exit(main())
