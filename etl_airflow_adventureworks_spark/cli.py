"""Command-line entry points — the spark-submit-able surface.

A reference user ran Airflow DAGs + DBeaver SQL; the migration path here:

    python -m etl_airflow_adventureworks_spark.cli build-star \
        --sf-dir /root/testdata/sf0.01 --out /tmp/warehouse
    python -m etl_airflow_adventureworks_spark.cli kpi kpi05_top5_products \
        --sf-dir /root/testdata/sf0.01
    python -m etl_airflow_adventureworks_spark.cli query ext_minhash_neardup \
        --sf-dir /root/testdata/sf0.01 --limit 10

The same module works under ``spark-submit`` (it only getOrCreates).
"""

from __future__ import annotations

import argparse
import sys


def _print_maintenance(what: str, rep: dict, detail: str = "") -> None:
    """The maintain-* subcommands' report: the plan (or what ran) and
    one line per reason."""
    verb = "would run" if rep["dry_run"] else "ran"
    print(f"{what}: {verb} {rep['actions'] or ['nothing']}{detail}")
    for r in rep["reasons"]:
        print(f"  - {r}")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="etl_airflow_adventureworks_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build-star", help="materialize the star-schema warehouse")
    b.add_argument("--sf-dir", required=True)
    b.add_argument("--out", required=True)

    k = sub.add_parser("kpi", help="run a KPI by SQL text (DBeaver-style)")
    k.add_argument("name")
    k.add_argument("--sf-dir", required=True)
    k.add_argument("--limit", type=int, default=20)

    q = sub.add_parser("query", help="run any declared query by name")
    q.add_argument("name")
    q.add_argument("--sf-dir", required=True)
    q.add_argument("--limit", type=int, default=20)

    r = sub.add_parser(
        "ref-kpi", help="run one of the reference's literal KPIs over a built warehouse"
    )
    r.add_argument("name")
    r.add_argument("--warehouse", required=True)
    r.add_argument("--limit", type=int, default=20)

    c = sub.add_parser(
        "compact", help="compact a parquet table's small files (maintenance)"
    )
    c.add_argument("--path", required=True)
    c.add_argument("--target-mb", type=int, default=128)
    c.add_argument("--zorder", default=None,
                   help="comma-separated columns: recluster on the Z curve "
                   "while compacting (multi-column file skipping)")

    cu = sub.add_parser(
        "curate", help="run the corpus-curation waterfall and write the result"
    )
    cu.add_argument("--sf-dir", required=True, help="dir containing documents.parquet")
    cu.add_argument("--out", required=True, help="output parquet path")
    cu.add_argument("--min-quality", type=float, default=0.5)
    cu.add_argument("--languages", default="en", help="comma list; 'any' disables")
    cu.add_argument("--max-top-token-frac", type=float, default=None,
                    help="enable the repetition filter at this threshold")
    cu.add_argument("--scrub-pii", action="store_true")
    cu.add_argument("--boilerplate-min-docs", type=int, default=None,
                    help="drop lines recurring in >= N distinct docs (off by default)")
    cu.add_argument("--no-near-dup", action="store_true")
    cu.add_argument("--near-dup-policy", choices=["greedy", "components"],
                    default="greedy",
                    help="components resolves transitive chains (extra iterative job)")
    cu.add_argument("--eval-parquet", default=None,
                    help="eval/benchmark parquet (doc_id, text) to decontaminate against")
    cu.add_argument("--splits", default=None,
                    help="e.g. train=0.9,val=0.1 (deterministic hash splits)")

    bi = sub.add_parser(
        "build-index",
        help="build + persist the IVF ANN serving index (k-means centroids "
        "via a versioned manifest + an immutable cell-partitioned layout)",
    )
    bi.add_argument("--sf-dir", required=True, help="dir containing embeddings.parquet")
    bi.add_argument("--index", required=True, help="index root path")
    bi.add_argument("--k-cells", type=int, default=16)
    bi.add_argument("--seed", type=int, default=7)
    bi.add_argument("--pq-m", type=int, default=None,
                    help="enable product quantization: subspace count "
                    "(codes ride the layout; codebooks version-coupled)")
    bi.add_argument("--pq-k", type=int, default=16, help="codes per subspace")
    bi.add_argument("--base", default=None,
                    help="VersionedTable path that is the system of record "
                    "for this collection — recorded so index-staleness can "
                    "classify base rewrites from manifests alone")
    bi.add_argument("--base-version", type=int, default=None,
                    help="pin the base version the snapshot reflects (r11, "
                    "ADVICE r10): without it the CURRENT version is stamped "
                    "at call time, which silently skips a rewrite racing "
                    "between the snapshot read and this build")

    qi = sub.add_parser(
        "query-index",
        help="serve IVF top-k from a persisted index (no refit, file-pruned "
        "probes); reports index staleness vs the live collection",
    )
    qi.add_argument("--sf-dir", required=True, help="live collection (staleness probe)")
    qi.add_argument("--index", required=True)
    qi.add_argument("--nprobe", type=int, default=4)
    qi.add_argument("--version", type=int, default=None,
                    help="pin a committed index version (default latest)")
    qi.add_argument("--limit", type=int, default=20)
    qi.add_argument("--pq", action="store_true",
                    help="serve via the build's PQ codes (ADC candidate "
                    "scan + exact re-rank; requires a --pq-m build)")
    qi.add_argument("--refine", type=int, default=4,
                    help="PQ re-rank depth: top-k x refine ADC survivors")

    bd = sub.add_parser(
        "build-dedup-index",
        help="build + persist the MinHash dedup index (per-doc shingle sets "
        "+ signatures in a versioned table) for incremental batch checks",
    )
    bd.add_argument("--docs", required=True,
                    help="corpus parquet with doc_id, text")
    bd.add_argument("--index", required=True, help="index root path")
    bd.add_argument("--base", default=None,
                    help="corpus VersionedTable path (when --docs is its "
                    "current snapshot) — recorded for index-staleness")
    bd.add_argument("--base-version", type=int, default=None,
                    help="pin the corpus version the snapshot reflects "
                    "(r11, ADVICE r10): without it the CURRENT version is "
                    "stamped at call time, which silently skips a rewrite "
                    "racing between the snapshot read and this build")

    dc = sub.add_parser(
        "dedup-check",
        help="check a new batch against the persisted dedup index: emits "
        "near-dup pairs touching the batch (batch-vs-corpus and batch-"
        "internal) without re-running dedup over the corpus; --accept "
        "appends the batch to the index as a new version (idempotent "
        "under --token replay)",
    )
    dc.add_argument("--batch", required=True,
                    help="batch parquet with doc_id, text")
    dc.add_argument("--index", required=True)
    dc.add_argument("--version", type=int, default=None,
                    help="pin a committed index version (default latest)")
    dc.add_argument("--threshold", type=float, default=None,
                    help="Jaccard accept threshold (default: engine default)")
    dc.add_argument("--out", default=None, help="write pairs parquet here")
    dc.add_argument("--accept", action="store_true",
                    help="append the batch to the index after the check")
    dc.add_argument("--token", default=None,
                    help="idempotency token for --accept (e.g. the batch id)")
    dc.add_argument("--limit", type=int, default=20)

    ig = sub.add_parser(
        "ingest",
        help="admit a batch of documents through the near-dup gate: "
        "greedy keep-lowest vs the persisted index and within the batch, "
        "accepted docs appended to BOTH the corpus table and the index "
        "as one idempotent epoch (replaying the same --epoch is a no-op)",
    )
    ig.add_argument("--batch", required=True,
                    help="batch parquet with doc_id, text (fresh ids)")
    ig.add_argument("--index", required=True, help="dedup index root path")
    ig.add_argument("--corpus", required=True,
                    help="accepted-documents VersionedTable root path")
    ig.add_argument("--epoch", required=True, type=int,
                    help="monotonic epoch/batch id (the idempotency basis)")
    ig.add_argument("--threshold", type=float, default=None)
    ig.add_argument("--audit", default=None,
                    help="optionally append detected pairs to this table")

    ti = sub.add_parser(
        "table-info",
        help="describe a VersionedTable: versions, file counts/bytes, "
        "idempotency token, stats coverage",
    )
    ti.add_argument("--path", required=True)

    ot = sub.add_parser(
        "optimize-table",
        help="rewrite a VersionedTable's current snapshot compacted and "
        "optionally Z-order clustered, as one atomic new version (old "
        "versions stay time-travelable; stats recorded for read_where)",
    )
    ot.add_argument("--path", required=True)
    ot.add_argument("--zorder", default=None,
                    help="comma-separated cluster columns")
    ot.add_argument("--files", type=int, default=None,
                    help="target file count (default: size/128MB)")

    dl = sub.add_parser(
        "delete-rows",
        help="DELETE WHERE on a VersionedTable: rewrites only the files "
        "containing matches (carries the rest verbatim) as one atomic "
        "new version; --erase then vacuums so no retained file still "
        "holds the deleted rows (the GDPR procedure)",
    )
    dl.add_argument("--path", required=True)
    dl.add_argument("--where", required=True,
                    help="SQL predicate; matching rows are deleted "
                    "(NULL-predicate rows survive, per SQL DELETE)")
    dl.add_argument("--erase", action="store_true",
                    help="vacuum(retain_last=1) after the delete — "
                    "physically removes the pre-delete files")
    dl.add_argument("--token", default=None,
                    help="idempotency token (replay-safe job reruns)")

    tc = sub.add_parser(
        "table-changes",
        help="row-level change feed (Delta-CDF shape, r10): appends "
        "surface as inserts, upsert/delete/CDC commits serve their "
        "recorded _change_type rows, optimize contributes nothing; a "
        "plain overwrite in the range fails loud",
    )
    tc.add_argument("--path", required=True)
    tc.add_argument("--since", type=int, required=True,
                    help="exclusive lower version bound")
    tc.add_argument("--to", type=int, default=None,
                    help="inclusive upper bound (default: latest)")
    tc.add_argument("--limit", type=int, default=20,
                    help="rows to print (with per-type counts)")
    tc.add_argument("--out", default=None,
                    help="write the full delta as parquet instead")

    vt = sub.add_parser(
        "vacuum-table",
        help="drop files no retained manifest references (data + change "
        "files + tmp debris); --dry-run previews the count without "
        "touching anything; older versions stop being time-travelable "
        "(loud-fail retention contract, see table.vacuum)",
    )
    vt.add_argument("--path", required=True)
    vt.add_argument("--retain", type=int, default=1,
                    help="newest versions to keep readable (default 1)")
    vt.add_argument("--dry-run", action="store_true")
    vt.add_argument("--respect-consumer", action="append", default=[],
                    metavar="PATH",
                    help="repeatable: a rollup / replica / base-stamped "
                    "index derived from this table — its recorded sync "
                    "point computes a retention floor, and --retain "
                    "below it is clamped up loudly so the consumer can "
                    "still catch up incrementally (r12); pass the single "
                    "value 'auto' (r13) to use the table's self-"
                    "registered consumer registry instead of enumerating")

    co = sub.add_parser(
        "consumers",
        help="list (default) or retire entries in a table's self-"
        "registered consumer registry (r13) — the registry "
        "vacuum --respect-consumer auto computes its retention floor "
        "from; consumers re-register automatically at their next "
        "reflect",
    )
    co.add_argument("--path", required=True, help="source table root")
    co.add_argument("--retire", default=None, metavar="CONSUMER_PATH",
                    help="remove this consumer's registry entry (e.g. a "
                    "decommissioned replica whose artifact is gone)")
    co.add_argument("--prune", action="store_true",
                    help="retire every entry that records no reflected "
                    "version AND whose last-reflect heartbeat is older "
                    "than the grace window (r14) — the stale-entry "
                    "hygiene for consumers deleted without --retire")
    co.add_argument("--grace-hours", type=float, default=None,
                    help="override the prune grace window (default: "
                    "CONSUMER_EMPTY_GRACE_SECONDS, 24h); entries newer "
                    "than this are kept — they may be mid-rebuild")
    co.add_argument("--pin", default=None, metavar="CONSUMER_PATH",
                    help="hold this consumer's retention pin for an "
                    "unbounded teardown-rebuild (r15): while pinned, "
                    "vacuum --respect-consumer auto keeps ALL versions "
                    "even if the consumer records nothing and its "
                    "heartbeat ages out; --unpin releases")
    co.add_argument("--unpin", default=None, metavar="CONSUMER_PATH",
                    help="release a --pin hold (the entry stays "
                    "registered; --retire removes it outright)")

    rt = sub.add_parser(
        "replicate-table",
        help="maintain a downstream mirror of a keyed VersionedTable at "
        "delta cost: row-level change feed -> per-key final state -> one "
        "atomic CDC apply on the replica (bootstraps on first run; "
        "no-op when current; --full-copy re-seeds across unrecorded "
        "rewrites or schema evolution)",
    )
    rt.add_argument("--src", required=True)
    rt.add_argument("--dst", required=True)
    rt.add_argument("--key", required=True)
    rt.add_argument("--full-copy", action="store_true")

    sd = sub.add_parser(
        "sync-dedup-index",
        help="bring a versioned-base dedup index level with its corpus by "
        "consuming the corpus's row-level change feed — one atomic CDC "
        "apply on the index, cost proportional to changed docs (the "
        "incremental alternative to rebuilding after corpus upserts/"
        "deletes)",
    )
    sd.add_argument("--index", required=True)
    sd.add_argument("--token", default=None,
                    help="idempotency token (replay-safe job reruns)")

    si = sub.add_parser(
        "sync-index",
        help="bring a versioned-base IVF index level with its base table "
        "by consuming the base's row-level change feed (r11): changed "
        "vectors re-assign to their existing cells (PQ codes re-encode "
        "with the stored codebooks), deletes retract, one atomic CDC "
        "apply on the VersionedTable layout — the incremental "
        "alternative to rebuilding after base upserts/deletes",
    )
    si.add_argument("--index", required=True)
    si.add_argument("--token", default=None,
                    help="idempotency token (replay-safe job reruns)")
    si.add_argument("--optimize-layout", action="store_true",
                    help="after syncing, re-cluster the layout "
                    "hierarchically by (cell, vec_id) — sync patches "
                    "fragment per-cell pruning; this restores it as one "
                    "atomic rowset-preserving version")

    oil = sub.add_parser(
        "optimize-index-layout",
        help="re-cluster a repairable IVF layout hierarchically by "
        "(cell, vec_id) as one atomic rowset-preserving version — run "
        "when repeated sync patches have fragmented per-cell pruning, "
        "or to recover a crashed 'sync-index --optimize-layout' whose "
        "replayed sync no-ops on its token and skips the re-cluster "
        "(r12, ADVICE r11)",
    )
    oil.add_argument("--index", required=True)
    oil.add_argument("--num-files", type=int, default=None,
                     help="default: byte-derived, floored at one file "
                     "per cell")

    ri = sub.add_parser(
        "rebuild-index",
        help="REFIT a versioned-base IVF index from its base table's "
        "current snapshot (r11): sync keeps the index correct but never "
        "moves the centroids — once distribution drift crosses your "
        "recall budget, this retrains k-means (and PQ codebooks, same "
        "shape) on the live base and re-stamps",
    )
    ri.add_argument("--index", required=True)
    ri.add_argument("--k-cells", type=int, default=None,
                    help="default: the existing cell count")
    ri.add_argument("--seed", type=int, default=7)

    mi = sub.add_parser(
        "maintain-index",
        help="run the maintenance planner on a versioned-base index: "
        "no-op / sync / rebuild-refit, then compact and vacuum "
        "(SCALING.md \"Maintenance policy\"); --dry-run prints the plan "
        "and why",
    )
    mi.add_argument("--index", required=True)
    mi.add_argument("--kind", choices=["ivf", "dedup"], required=True)
    mi.add_argument("--dry-run", action="store_true")
    mi.add_argument("--token", default=None,
                    help="idempotency token forwarded to a sync action")
    mi.add_argument("--vacuum-retain", type=int, default=None, metavar="N",
                    help="finally sweep index storage to the newest N "
                    "versions (ivf: centroid versions + unreferenced "
                    "layout dirs)")
    mi.add_argument("--check-fit-drift", action="store_true",
                    help="(ivf only) also probe quantizer FIT drift — one "
                    "column-pruned pass over the base table; refits when "
                    "the mean assigned-centroid distance inflated >= 25%% "
                    "vs build (the refit signal the count probe is blind "
                    "to under upsert-heavy maintenance)")

    ist = sub.add_parser(
        "index-staleness",
        help="manifest-only staleness of a versioned-base index (IVF or "
        "dedup) vs its recorded base table: unchanged / appended, and a "
        "LOUD nonzero exit when the base was rewritten (upsert/delete) "
        "— rebuild before serving",
    )
    ist.add_argument("--index", required=True)
    ist.add_argument("--kind", choices=["ivf", "dedup"], required=True)
    ist.add_argument("--allow-rewritten", action="store_true",
                     help="report instead of erroring on a rewritten base "
                     "(exit code still 1)")

    rr = sub.add_parser(
        "refresh-rollup",
        help="bring a continuous-aggregate table up to its source's "
        "latest version at delta cost (reads only the new files + the "
        "current rollup); bootstraps on first run, no-op when current",
    )
    rr.add_argument("--source", required=True,
                    help="source VersionedTable root (append-mode history)")
    rr.add_argument("--rollup", required=True, help="rollup table root")
    rr.add_argument("--spec", required=True,
                    help='JSON file: {"dims": ["event_type", '
                    '"date_trunc(\'hour\', ts) AS hour"], "measures": '
                    '{"n_events": ["count", null], "sum_value": '
                    '["sum", "value"]}}')
    rr.add_argument("--full-rebuild", action="store_true",
                    help="re-aggregate from the current snapshot (required "
                    "only after an UNRECORDED rewrite — plain overwrite / "
                    "pre-r10 history; recorded upserts/deletes refresh "
                    "incrementally, min/max/HLL specs via the r12 "
                    "group-local path)")
    rr.add_argument("--record-changes", default="auto",
                    choices=["auto", "true", "false"],
                    help="record the refresh's own Delta-CDF change rows "
                    "so downstream consumers of the ROLLUP (a replica, a "
                    "rollup-of-a-rollup) sync at delta cost (r14); 'auto' "
                    "records exactly when the rollup has registered "
                    "consumers")
    rr.add_argument("--cow", default="auto",
                    choices=["auto", "true", "false"],
                    help="commit via the copy-on-write keyed rewrite "
                    "(r15): carry rollup files containing no touched "
                    "group verbatim instead of rewriting the whole "
                    "state; 'auto' switches on once the stored rollup "
                    "exceeds the measured break-even size")
    rr.add_argument("--show", type=int, default=0, metavar="N",
                    help="after refreshing, print N finalized rollup rows "
                    "(HLL sketches as estimates; histogram measures as "
                    "quantile estimates via --quantiles)")
    rr.add_argument("--quantiles", default=None, metavar="Q1,Q2,...",
                    help="with --show: project every histogram measure to "
                    "these quantiles (r9 mergeable quantile sketch), e.g. "
                    "0.5,0.95")

    mr = sub.add_parser(
        "maintain-rollup",
        help="run the maintenance planner on a rollup: rebuild or "
        "refresh by the measured crossovers, then compact its own "
        "layout and vacuum; --dry-run prints the plan and why",
    )
    mr.add_argument("--source", required=True,
                    help="source VersionedTable root")
    mr.add_argument("--rollup", required=True, help="rollup table root")
    mr.add_argument("--spec", required=True,
                    help="JSON file, same shape as refresh-rollup's plus "
                    'optional "monotone_dims": {dim_string: inner_column} '
                    "for expression-dim file pruning")
    mr.add_argument("--dry-run", action="store_true")
    mr.add_argument("--vacuum-retain", type=int, default=None, metavar="N",
                    help="after the content action, sweep the rollup "
                    "table's own versions to the newest N")
    mr.add_argument("--cow", default="auto",
                    choices=["auto", "true", "false"],
                    help="copy-on-write commit for the refresh leg "
                    "(r15, see refresh-rollup --cow)")
    mr.add_argument("--no-layout", action="store_true",
                    help="skip the layout probe + compaction of the "
                    "rollup's own table")

    mt = sub.add_parser(
        "maintain-table",
        help="run the maintenance planner on a plain VersionedTable: "
        "compact when fragmented or small-filed (re-clustering with the "
        "spec the newest optimize recorded unless overridden), then "
        "vacuum honoring consumers; --dry-run prints the plan and why",
    )
    mt.add_argument("--table", required=True, help="VersionedTable root")
    mt.add_argument("--cluster-by", default=None,
                    help="comma-separated columns (overrides the "
                    "recorded spec)")
    mt.add_argument("--zorder", default=None,
                    help="comma-separated columns (overrides the "
                    "recorded spec)")
    mt.add_argument("--dry-run", action="store_true")
    mt.add_argument("--vacuum-retain", type=int, default=None, metavar="N")

    vr = sub.add_parser(
        "verify-replica",
        help="content-equality audit of a replica OF a rollup (r15): "
        "compares FINALIZED frames (HLL sketches as estimates, "
        "deterministic measures exactly) — the check to run instead of "
        "diffing files/hashes, which always false-alarm between a "
        "rollup and its replica",
    )
    vr.add_argument("--rollup", required=True, help="rollup table root")
    vr.add_argument("--replica", required=True, help="replica table root")
    vr.add_argument("--spec", required=True,
                    help="JSON file, same shape as refresh-rollup's")

    va = sub.add_parser(
        "validate",
        help="run declarative data-quality checks over a table: all "
        "row-local checks compile into ONE scan; unique folds into the "
        "same aggregate; each foreign_key is one broadcast anti-join "
        "(ref resolved as a table in the same --sf-dir)",
    )
    va.add_argument("--sf-dir", required=True)
    va.add_argument("--table", required=True)
    va.add_argument("--checks", required=True,
                    help="JSON file: list of check specs, e.g. "
                    '[{"kind":"not_null","col":"l_shipdate"}, '
                    '{"kind":"foreign_key","col":"l_orderkey",'
                    '"ref_table":"orders","ref_col":"o_orderkey"}]')
    va.add_argument("--quarantine", default=None,
                    help="write <dir>/good and <dir>/bad parquet splits "
                    "(bad rows carry a _failed array naming their checks)")
    va.add_argument("--strict", action="store_true",
                    help="exit 1 if any check fails")

    se = sub.add_parser(
        "sessionize",
        help="sessionize an events table through the skew dispatcher: ONE "
        "sampled hot-key-share probe routes user-window vs time-sharded "
        "(result-identical), and is reused for --attribution",
    )
    se.add_argument("--sf-dir", required=True, help="dir containing events.parquet")
    se.add_argument("--gap-min", type=int, default=None,
                    help="session gap in minutes (default: engine default)")
    se.add_argument("--attribution", action="store_true",
                    help="also run as-of purchase attribution, reusing the probe")
    se.add_argument("--out", default=None, help="write sessions parquet here")
    se.add_argument("--limit", type=int, default=20)

    dn = sub.add_parser(
        "densify",
        help="gap-filled dense per-user time series from the events table: "
        "bucketize to --step seconds, aggregate (count, sum value), then "
        "fill the missing buckets (hypertable time_bucket_gapfill)",
    )
    dn.add_argument("--sf-dir", required=True, help="dir containing events.parquet")
    dn.add_argument("--step", type=int, default=3600, help="bucket seconds")
    dn.add_argument("--fill", default="locf",
                    choices=["null", "zero", "locf", "linear"])
    dn.add_argument("--out", default=None, help="write the dense series here")

    fu = sub.add_parser(
        "funnel",
        help="time-ordered funnel over the events table: greedy "
        "first-occurrence step matching with an optional per-hop "
        "conversion window; prints the reached-per-step counts",
    )
    fu.add_argument("--sf-dir", required=True, help="dir containing events.parquet")
    fu.add_argument("--steps", required=True,
                    help="comma-ordered event types, e.g. signup,view,click,purchase")
    fu.add_argument("--within-hours", type=float, default=None,
                    help="max hours between consecutive completed steps")
    fu.add_argument("--within-total-hours", type=float, default=None,
                    help="max hours between step 1 and EVERY later step "
                    "(the overall conversion window, r9; composable with "
                    "--within-hours — a step must satisfy both)")
    fu.add_argument("--out", default=None,
                    help="write the per-key completion table here")

    sj = sub.add_parser(
        "simjoin",
        help="two-table fuzzy text match (record linkage): shingle-Jaccard "
        ">= t via the prefix-filtered AllPairs join",
    )
    sj.add_argument("--left", required=True, help="left parquet table path")
    sj.add_argument("--right", required=True, help="right parquet table path")
    sj.add_argument("--left-id", default="doc_id")
    sj.add_argument("--right-id", default="doc_id")
    sj.add_argument("--left-text", default="text")
    sj.add_argument("--right-text", default="text")
    sj.add_argument("--threshold", type=float, default=0.5)
    sj.add_argument("--width", type=int, default=3, help="shingle width in tokens")
    sj.add_argument("--out", default=None, help="write match pairs parquet here")
    sj.add_argument("--limit", type=int, default=20)

    sub.add_parser("list", help="list declared queries")

    ex = sub.add_parser(
        "explain",
        help="print a declared query's physical plan (the operability "
        "companion to the plan pins in tests/test_plan_shapes.py)",
    )
    ex.add_argument("name")
    ex.add_argument("--sf-dir", required=True)
    ex.add_argument("--mode", default="formatted",
                    choices=["formatted", "simple", "extended", "cost"])

    args = p.parse_args(argv)

    from .registry import QUERIES, load_all

    load_all()
    if args.cmd == "list":
        for name in sorted(QUERIES):
            print(name)
        return 0

    # the maintain-* argument checks refuse before any Spark work
    if getattr(args, "vacuum_retain", None) is not None \
            and args.vacuum_retain < 1:
        print("--vacuum-retain must be >= 1")
        return 2
    if getattr(args, "check_fit_drift", False) and args.kind != "ivf":
        print("--check-fit-drift applies to --kind ivf only")
        return 2

    from .session import get_spark

    spark = get_spark(app_name=f"cli:{args.cmd}")
    if args.cmd == "build-star":
        from .plans.pipeline import build_star

        counts = build_star(spark, args.sf_dir, args.out)
        for table, n in counts.items():
            print(f"{table}: {n} rows")
        return 0
    if args.cmd == "kpi":
        from .plans.kpis_sql import KPI_SQL, run_kpi_sql

        if args.name not in KPI_SQL:
            print(f"unknown KPI {args.name!r}; one of {sorted(KPI_SQL)}", file=sys.stderr)
            return 2
        run_kpi_sql(spark, args.sf_dir, args.name).show(args.limit, truncate=False)
        return 0
    if args.cmd == "ref-kpi":
        from .plans.reference_kpis import REFERENCE_KPI_SQL, run_reference_kpi

        if args.name not in REFERENCE_KPI_SQL:
            print(
                f"unknown reference KPI {args.name!r}; one of {sorted(REFERENCE_KPI_SQL)}",
                file=sys.stderr,
            )
            return 2
        run_reference_kpi(spark, args.warehouse, args.name).show(
            args.limit, truncate=False
        )
        return 0
    if args.cmd == "compact":
        from .sinks import compact_table

        n = compact_table(
            spark, args.path, args.target_mb * 1024 * 1024,
            zorder=args.zorder.split(",") if args.zorder else None,
        )
        print(f"compacted to {n} file(s)"
              + (f" z-ordered on ({args.zorder})" if args.zorder else ""))
        return 0
    if args.cmd == "curate":
        from .operators.curate import curate_corpus
        from .sources import load_table

        docs = load_table(spark, args.sf_dir, "documents")
        eval_set = (
            spark.read.parquet(args.eval_parquet) if args.eval_parquet else None
        )
        splits = None
        if args.splits:
            splits = {
                name: float(w)
                for name, w in (kv.split("=") for kv in args.splits.split(","))
            }
        res = curate_corpus(
            docs,
            min_quality=args.min_quality if args.min_quality >= 0 else None,
            languages=(
                None if args.languages == "any" else tuple(args.languages.split(","))
            ),
            max_repetition=(
                {"max_top_token_frac": args.max_top_token_frac}
                if args.max_top_token_frac is not None
                else None
            ),
            scrub_pii=args.scrub_pii,
            boilerplate_min_docs=args.boilerplate_min_docs,
            near_dup=not args.no_near_dup,
            near_dup_policy=args.near_dup_policy,
            eval_set=eval_set,
            split_weights=splits,
        )
        res.curated.write.mode("overwrite").parquet(args.out)
        for row in res.report():
            print(f"{row['stage']}: {row['rows']} rows (-{row['dropped']})")
        return 0
    if args.cmd == "build-index":
        from .operators.similarity import build_ivf_index

        v = build_ivf_index(
            spark, args.sf_dir, args.index, k_cells=args.k_cells,
            seed=args.seed, pq_m=args.pq_m, pq_k=args.pq_k,
            base_path=args.base, base_version=args.base_version,
        )
        print(f"committed IVF index version {v} at {args.index}"
              + (f" (PQ m={args.pq_m} k={args.pq_k})" if args.pq_m else ""))
        return 0
    if args.cmd == "query-index":
        # one manifest read serves both the staleness probe and the query
        # (loading twice doubled manifest IO per serve invocation, r6 ADVICE)
        from .operators.similarity import (
            ann_ivf_topk_from_index,
            ivf_index_staleness,
            load_ivf_index,
        )

        index = load_ivf_index(spark, args.index, version=args.version)
        staleness = ivf_index_staleness(
            spark, args.index, args.sf_dir, version=args.version, meta=index[1]
        )
        # label the collection the probe actually counted: versioned-base
        # indexes measure the BASE table, not the (frozen) sf_dir mirror
        src_label = (index[1].get("base") or {}).get("path") or args.sf_dir
        print(f"index staleness vs {src_label}: {staleness:.1%}"
              + (" — refit advised" if staleness > 0.25 else ""))
        if index[1].get("base"):
            # versioned-base builds (r10) also get the rowset probe: a
            # rewritten base makes the cell assignment INVALID — refuse
            # to serve rather than silently return dropped vectors
            from .operators.similarity import ivf_index_rowset_staleness

            try:
                st = ivf_index_rowset_staleness(
                    spark, args.index, meta=index[1]
                )
            except ValueError as e:
                print(e)
                return 1
            print(f"base {st['base_path']}: {st['kind']} since "
                  f"v{st['built_at_base_version']} "
                  f"(now v{st['current_base_version']})")
        if args.pq:
            from .operators.pq import ann_ivf_pq_topk_from_index

            ann_ivf_pq_topk_from_index(
                spark, args.index, args.nprobe, refine=args.refine,
                version=args.version,
            ).show(args.limit, truncate=False)
        else:
            ann_ivf_topk_from_index(
                spark, args.index, args.nprobe, preloaded=index
            ).show(args.limit, truncate=False)
        return 0
    if args.cmd == "build-dedup-index":
        from .operators.dedup_incremental import build_neardup_index

        docs = spark.read.parquet(args.docs)
        v = build_neardup_index(spark, docs, args.index,
                                base_path=args.base,
                                base_version=args.base_version)
        print(f"committed dedup index version {v} at {args.index}"
              f" ({docs.count()} documents)")
        return 0
    if args.cmd == "dedup-check":
        from .operators.dedup import JACCARD_THRESHOLD
        from .operators.dedup_incremental import (
            append_to_neardup_index,
            minhash_neardup_incremental,
            neardup_batch_entries,
        )

        # the batch's entries, computed once for the check and the accept
        batch = neardup_batch_entries(
            spark.read.parquet(args.batch)
        ).localCheckpoint(eager=True)
        pairs = minhash_neardup_incremental(
            spark, batch, args.index, version=args.version,
            threshold=args.threshold if args.threshold is not None
            else JACCARD_THRESHOLD,
        )
        if args.out:
            pairs.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(f"near-dup pairs touching the batch: {n} -> {args.out}")
        else:
            pairs.show(args.limit, truncate=False)
        if args.accept:
            v = append_to_neardup_index(
                spark, batch, args.index, idempotency_token=args.token
            )
            print(f"accepted batch into dedup index version {v}")
        return 0
    if args.cmd == "ingest":
        from .operators.dedup import JACCARD_THRESHOLD
        from .streaming.ingest import ingest_batch_with_dedup

        batch = spark.read.parquet(args.batch)
        stats = ingest_batch_with_dedup(
            batch, args.index, args.corpus, args.epoch,
            threshold=args.threshold if args.threshold is not None
            else JACCARD_THRESHOLD,
            audit_path=args.audit,
        )
        print(f"epoch {args.epoch}: accepted {stats['accepted']}, "
              f"rejected {stats['rejected']} near-dup")
        return 0
    if args.cmd == "table-info":
        import json as _json

        from .table import VersionedTable

        t = VersionedTable(spark, args.path)
        vs = t.versions()
        if not vs:
            print(f"no committed versions at {args.path}")
            return 1
        for v in vs:
            man = t.manifest(v)
            files = man["files"]
            stats = man.get("stats") or {}
            covered = sum(1 for f in files if f in stats)
            cols = sorted(
                {c for ent in stats.values() for c in ent}
            ) if stats else []
            schema_cols = len(_json.loads(man["schema"]).get("fields", []))
            op = man.get("op")
            n_changes = len(man.get("changes") or [])
            print(
                f"v{v}: {len(files)} file(s), {schema_cols} column(s), "
                f"token={man.get('token')!r}, stats={covered}/{len(files)}"
                + (f" on {cols}" if cols else "")
                + (f", change-files={n_changes}" if n_changes else "")
                + (f", op={op}" if op else "")
            )
        return 0
    if args.cmd == "optimize-table":
        from .table import VersionedTable

        v = VersionedTable(spark, args.path).optimize(
            zorder=args.zorder.split(",") if args.zorder else None,
            num_files=args.files,
        )
        print(f"optimized into version {v}"
              + (f" z-ordered on ({args.zorder})" if args.zorder else ""))
        return 0
    if args.cmd == "delete-rows":
        from .table import VersionedTable

        t = VersionedTable(spark, args.path)
        before = t.manifest()["version"] if t.versions() else None
        v = t.delete_where(args.where, idempotency_token=args.token)
        if v == before:
            print(f"no rows matched {args.where!r} (or replayed token); "
                  f"still at version {v}")
            return 0
        op = t.manifest(v)["op"]
        print(f"deleted {op['rows_deleted']} row(s) into version {v} "
              f"({op['files_rewritten']} file(s) rewritten, "
              f"{op['files_carried']} carried)")
        if args.erase:
            n = t.vacuum(retain_last=1)
            print(f"erased {n} pre-delete file(s) (history vacuumed)")
        return 0
    if args.cmd == "table-changes":
        from .table import CHANGE_TYPE_COL, VersionedTable

        # pin the delta once — the counts and the tail (or the count
        # after --out) must not re-scan the change files per consumer
        rc = (
            VersionedTable(spark, args.path)
            .row_changes(args.since, args.to)
            .localCheckpoint(eager=True)
        )
        if args.out:
            rc.write.mode("overwrite").parquet(args.out)
            print(f"{rc.count()} change row(s) -> {args.out}")
            return 0
        from pyspark.sql import functions as F

        counts = {
            r[CHANGE_TYPE_COL]: r["n"]
            for r in rc.groupBy(CHANGE_TYPE_COL)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }  # bounded: at most 4 change types
        print(
            "changes ({}, {}]: ".format(args.since, args.to or "latest")
            + ", ".join(f"{k}={counts[k]}" for k in sorted(counts))
            if counts
            else f"changes ({args.since}, {args.to or 'latest'}]: none"
        )
        rc.show(args.limit, truncate=False)
        return 0
    if args.cmd == "vacuum-table":
        from .table import VersionedTable

        t = VersionedTable(spark, args.path)
        # clamp CLI-side (one floor computation, honest print) and do
        # NOT also pass respect_consumers — vacuum would recompute the
        # same floor, doubling per-consumer manifest reads
        retain = args.retain
        if args.respect_consumer:
            consumers = ("auto" if args.respect_consumer == ["auto"]
                         else args.respect_consumer)
            floor = t.safe_retain_floor(consumers)
            if retain < floor:
                print(f"--retain {retain} would strand a lagging consumer "
                      f"— clamped to the computed floor {floor}")
                retain = floor
        n = t.vacuum(retain_last=retain, dry_run=args.dry_run)
        print(
            (f"would delete {n} file(s)" if args.dry_run
             else f"deleted {n} file(s)")
            + f" (retaining the newest {retain} version(s))"
        )
        return 0
    if args.cmd == "consumers":
        from .table import VersionedTable, consumer_reflected_version

        t = VersionedTable(spark, args.path)
        if args.retire:
            gone = t.retire_consumer(args.retire)
            print("retired" if gone else "no such registry entry")
            return 0 if gone else 1
        if args.pin:
            t.pin_consumer(args.pin)
            print(f"pinned {args.pin} (release with --unpin when the "
                  "rebuild reflects again)")
            return 0
        if args.unpin:
            was = t.unpin_consumer(args.unpin)
            print("unpinned" if was else "entry was not pinned")
            return 0 if was else 1
        if args.prune:
            kw = {}
            if args.grace_hours is not None:
                kw["grace_sec"] = args.grace_hours * 3600
            pruned = t.prune_consumers(**kw)
            if pruned:
                for c in pruned:
                    print(f"pruned {c}")
            else:
                print("nothing to prune")
            return 0
        entries = t._consumer_entries_meta()
        if not entries:
            print("no registered consumers")
            return 0
        import time as _time

        man = t.manifest()
        latest = man["version"] if man else None
        now_ms = _time.time() * 1000
        for c, _hp, mt, ent in entries:
            beat = f"beat {max(now_ms - mt, 0) / 1000:.0f}s ago"
            if ent.get("pinned"):
                beat += ", PINNED"
            try:
                r = consumer_reflected_version(spark, c, t.path)
                lag = f"reflects v{r}" + (
                    f" (lag {latest - r})" if latest is not None else "")
            except ValueError as e:
                lag = f"DEAD? {e}"
            print(f"{c}: {lag} [{beat}]")
        return 0
    if args.cmd == "replicate-table":
        from .table import VersionedTable, replicate_table

        v = replicate_table(spark, args.src, args.dst, key=args.key,
                            full_copy=args.full_copy)
        tok = VersionedTable(spark, args.dst).manifest()["token"]
        print(f"replica at {args.dst} is version {v} ({tok})")
        return 0
    if args.cmd == "sync-dedup-index":
        from .operators.dedup_incremental import sync_neardup_index

        v = sync_neardup_index(spark, args.index,
                               idempotency_token=args.token)
        print(f"dedup index at {args.index} synced to its corpus "
              f"(index version {v})")
        return 0
    if args.cmd == "sync-index":
        from .operators.similarity import (
            load_ivf_index,
            optimize_ivf_layout,
            sync_ivf_index,
        )
        from .table import VersionedTable

        def layout_state():
            _, m = load_ivf_index(spark, args.index)
            if m.get("layout_kind") != "vt":
                return None
            lv = VersionedTable(spark, f"{args.index}/{m['layout_dir']}")
            return (m["layout_dir"], lv.manifest()["version"])

        pre = layout_state() if args.optimize_layout else None
        v = sync_ivf_index(spark, args.index, idempotency_token=args.token)
        print(f"IVF index at {args.index} synced to its base "
              f"(centroid version {v})")
        if args.optimize_layout:
            cur = layout_state()
            if cur is not None and cur == pre:
                # a no-op sync (base already level / nothing applied)
                # must not pay a whole-layout rewrite on every cadence
                print("layout unchanged by this sync — skipping re-cluster")
            else:
                lv = optimize_ivf_layout(spark, args.index)
                print(f"layout re-clustered by (cell, vec_id) "
                      f"(layout version {lv})")
        return 0
    if args.cmd == "optimize-index-layout":
        from .operators.similarity import optimize_ivf_layout

        lv = optimize_ivf_layout(spark, args.index, num_files=args.num_files)
        print(f"layout re-clustered by (cell, vec_id) "
              f"(layout version {lv})")
        return 0
    if args.cmd == "rebuild-index":
        from .operators.similarity import rebuild_ivf_index

        v = rebuild_ivf_index(spark, args.index, k_cells=args.k_cells,
                              seed=args.seed)
        print(f"IVF index at {args.index} refit from its base "
              f"(centroid version {v})")
        return 0
    if args.cmd == "maintain-index":
        if args.kind == "ivf":
            from .operators.similarity import maintain_ivf_index as _mt
        else:
            from .operators.dedup_incremental import (
                maintain_neardup_index as _mt,
            )
        kw = {"idempotency_token": args.token} if args.token else {}
        if args.check_fit_drift:
            kw["check_fit_drift"] = True
        rep = _mt(spark, args.index, dry_run=args.dry_run,
                  vacuum_retain_last=args.vacuum_retain, **kw)
        _print_maintenance(f"{args.kind} index {args.index}", rep)
        return 0
    if args.cmd == "index-staleness":
        if args.kind == "ivf":
            from .operators.similarity import ivf_index_rowset_staleness as _st
        else:
            from .operators.dedup_incremental import (
                neardup_index_staleness as _st,
            )
        try:
            st = _st(spark, args.index, allow_rewritten=args.allow_rewritten)
        except ValueError as e:
            print(e)
            return 1
        sync_key = next(k for k in st if k.endswith("_base_version")
                        and not k.startswith("current"))
        print(
            f"{args.kind} index {args.index}: base {st['base_path']} is "
            f"{st['kind'].upper()} since v{st[sync_key]} "
            f"(now v{st['current_base_version']})"
        )
        return 1 if st["kind"] == "rewritten" else 0
    if args.cmd == "refresh-rollup":
        import json as _json

        from .operators.rollup import refresh_rollup

        with open(args.spec) as fh:
            spec = _json.load(fh)
        measures = {k: (v[0], v[1]) for k, v in spec["measures"].items()}
        tri = {"auto": "auto", "true": True, "false": False}
        v = refresh_rollup(
            spark, args.source, args.rollup, spec["dims"], measures,
            full_rebuild=args.full_rebuild,
            monotone_dims=spec.get("monotone_dims"),
            record_changes=tri[args.record_changes],
            cow=tri[args.cow],
        )
        print(f"rollup at version {v} (reflects the source's latest commit)")
        if args.show:
            from .operators.rollup import finalize_rollup, histogram_quantiles
            from .table import VersionedTable

            out = finalize_rollup(
                VersionedTable(spark, args.rollup).read(), measures
            )
            if args.quantiles:
                qs = [float(x) for x in args.quantiles.split(",") if x.strip()]
                for name, (fn, col) in measures.items():
                    if fn == "histogram":
                        out = histogram_quantiles(out, name, col, qs)
                out = out.drop(*[n for n, (fn, _c) in measures.items()
                                 if fn == "histogram"])
            out.show(args.show, truncate=False)
        return 0
    if args.cmd == "maintain-rollup":
        import json as _json

        from .operators.rollup import maintain_rollup

        with open(args.spec) as fh:
            spec = _json.load(fh)
        measures = {k: (v[0], v[1]) for k, v in spec["measures"].items()}
        rep = maintain_rollup(
            spark, args.source, args.rollup, spec["dims"], measures,
            dry_run=args.dry_run,
            monotone_dims=spec.get("monotone_dims"),
            vacuum_retain_last=args.vacuum_retain,
            cow={"auto": "auto", "true": True, "false": False}[args.cow],
            maintain_layout=not args.no_layout,
        )
        _print_maintenance(f"rollup {args.rollup}", rep,
                           f" (mode {rep['mode']})")
        return 0
    if args.cmd == "maintain-table":
        from .table import maintain_table

        rep = maintain_table(
            spark, args.table,
            cluster_by=args.cluster_by.split(",") if args.cluster_by
            else None,
            zorder=args.zorder.split(",") if args.zorder else None,
            dry_run=args.dry_run,
            vacuum_retain_last=args.vacuum_retain,
        )
        _print_maintenance(
            f"table {args.table}", rep,
            f" (depth {rep['frag_depth']}/{rep['frag_floor']}, "
            f"{rep['small_files']}/{rep['files']} small files)",
        )
        return 0
    if args.cmd == "verify-replica":
        import json as _json

        from .operators.rollup import verify_replica

        with open(args.spec) as fh:
            spec = _json.load(fh)
        measures = {k: (v[0], v[1]) for k, v in spec["measures"].items()}
        rep = verify_replica(spark, args.rollup, args.replica, measures)
        print(_json.dumps(rep))
        return 0 if rep["equal"] else 1
    if args.cmd == "validate":
        import json as _json

        from .operators import quality as Q
        from .sources import load_table

        with open(args.checks) as fh:
            specs = _json.load(fh)
        checks = []
        for s in specs:
            if s.get("kind") == "foreign_key":
                s = dict(s)
                s["ref"] = load_table(spark, args.sf_dir, s.pop("ref_table"))
            checks.append(s)
        df = load_table(spark, args.sf_dir, args.table)
        report = Q.validate(df, checks)
        report.show(len(checks) + 1, truncate=False)
        failed = [r["check"] for r in report.collect() if not r["passed"]]
        if args.quarantine:
            good, bad = Q.split_valid(df, checks)
            good.write.mode("overwrite").parquet(f"{args.quarantine}/good")
            bad.write.mode("overwrite").parquet(f"{args.quarantine}/bad")
            print(f"quarantine: wrote good/bad under {args.quarantine}")
        if failed:
            print(f"FAILED checks: {', '.join(failed)}")
        return 1 if (args.strict and failed) else 0
    if args.cmd == "sessionize":
        # VERDICT r7 #5: the dispatchers' production consumer. One probe
        # (max_key_share) serves every dispatched query on the frame —
        # the reuse the measured decision table recommends.
        from .operators.sessionize import (
            SESSION_GAP_MIN,
            _skew_threshold,
            asof_attribution_auto,
            max_key_share,
            session_gap_auto,
        )
        from .sources import load_table

        ev = load_table(spark, args.sf_dir, "events")
        share = max_key_share(ev, "user_id")
        routed = "sharded" if share >= _skew_threshold(ev, None) else "user_window"
        print(f"dispatch: max user share {share:.4f} -> {routed}")
        gap = args.gap_min if args.gap_min is not None else SESSION_GAP_MIN
        sessions = session_gap_auto(ev, gap_min=gap, share=share)
        if args.out:
            sessions.write.mode("overwrite").parquet(args.out)
            print(f"sessions: {spark.read.parquet(args.out).count()} rows -> {args.out}")
        else:
            sessions.show(args.limit, truncate=False)
        if args.attribution:
            asof_attribution_auto(ev, share=share).show(args.limit, truncate=False)
        return 0
    if args.cmd == "densify":
        from pyspark.sql import functions as F

        from .operators.timeseries import bucketize, gapfill
        from .sources import load_table

        ev = load_table(spark, args.sf_dir, "events")
        series = (
            bucketize(ev, "ts", args.step)
            .groupBy("user_id", "bucket_ts")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("sum_value"))
        )
        dense = gapfill(series, ["user_id"], "bucket_ts", args.step,
                        ["n_events", "sum_value"], fill=args.fill)
        if args.out:
            dense.write.mode("overwrite").parquet(args.out)
        sparse_n, dense_n = series.count(), (
            spark.read.parquet(args.out).count() if args.out else dense.count()
        )
        print(f"densified {sparse_n} -> {dense_n} rows "
              f"(step={args.step}s, fill={args.fill})"
              + (f" -> {args.out}" if args.out else ""))
        return 0
    if args.cmd == "funnel":
        from .operators.funnel import funnel_counts, ordered_funnel
        from .sources import load_table

        steps = [s.strip() for s in args.steps.split(",") if s.strip()]
        within = (int(args.within_hours * 3600)
                  if args.within_hours is not None else None)
        within_total = (int(args.within_total_hours * 3600)
                        if args.within_total_hours is not None else None)
        f = ordered_funnel(
            load_table(spark, args.sf_dir, "events"), "user_id", "ts",
            "event_type", steps, within_seconds=within,
            within_total_seconds=within_total,
        )
        if args.out:
            f.write.mode("overwrite").parquet(args.out)
        counts = funnel_counts(f, len(steps)).first()
        for i, s in enumerate(steps):
            n = counts[f"reached_{i + 1}"]
            print(f"step {i + 1} {s}: {n}"
                  + (f" ({n / counts['reached_1']:.1%} of step 1)"
                     if counts["reached_1"] else ""))
        if args.out:
            print(f"per-key completion table -> {args.out}")
        return 0
    if args.cmd == "simjoin":
        from .operators.simjoin import text_similarity_join

        pairs = text_similarity_join(
            spark.read.parquet(args.left),
            spark.read.parquet(args.right),
            left_id=args.left_id,
            right_id=args.right_id,
            left_text=args.left_text,
            right_text=args.right_text,
            threshold=args.threshold,
            shingle_width=args.width,
        )
        if args.out:
            pairs.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(f"matches: {n} pair(s) -> {args.out}")
        else:
            pairs.orderBy("jaccard", ascending=False).show(
                args.limit, truncate=False
            )
        return 0
    if args.cmd == "explain":
        if args.name not in QUERIES:
            print(f"unknown query {args.name!r} (see `list`)", file=sys.stderr)
            return 2
        QUERIES[args.name](spark, args.sf_dir).explain(args.mode)
        return 0
    if args.cmd == "query":
        if args.name not in QUERIES:
            print(f"unknown query {args.name!r} (see `list`)", file=sys.stderr)
            return 2
        QUERIES[args.name](spark, args.sf_dir).show(args.limit, truncate=False)
        return 0
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
