"""Per-merge cost curve of the in-engine BPE trainer (VERDICT r11 #5a).

The trainer's scale claim is that each merge iteration costs a
VOCABULARY-sized job — flat in the merge rank, bounded by the corpus's
distinct-word count, so a production 32k-merge vocabulary is 32k × a
small constant, not a growing series. Until round 12 that was argued
from the plan shape (localCheckpoint truncates lineage each
iteration); this probe MEASURES it at a production-ish merge count:
train n merges (default 2048) on the sf0.01 corpus and report the
per-merge wall clock averaged over windows, the first-window /
last-window ratio (flat ⇒ ~1.0), and the persistent-RDD count at end
(flat storage ⇒ 0 — the superseded-checkpoint free in
train_bpe_merges; before that fix this grew one vocabulary-sized RDD
per merge).

Prints one JSON line; results recorded in SCALE.md.
Usage: python scripts/bpe_scale_probe.py [--n 2048] [--window 128]
       [--sf-dir /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.measure import timed


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=2048)
    ap.add_argument("--window", type=int, default=128)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from sparkml_spark.session import get_spark

    spark = get_spark("bpe-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import sparkml_spark.operators  # noqa: F401  (package entry)
    from sparkml_spark.functions.subword import train_bpe_merges
    from sparkml_spark.sources.loader import load_table

    def run_arm(corpus, n):
        times: list[float] = []
        merges, total = timed(lambda: train_bpe_merges(
            spark, args.sf_dir, n, corpus=corpus,
            on_merge=lambda r, s: times.append(s),
        ))
        w = args.window
        windows = [
            {
                "merges": f"{i + 1}-{min(i + w, len(times))}",
                "mean_s": round(sum(times[i:i + w]) / len(times[i:i + w]), 3),
            }
            for i in range(0, len(times), w)
        ]
        first = windows[0]["mean_s"] if windows else 0.0
        last = windows[-1]["mean_s"] if windows else 0.0
        return {
            "n_merges": len(merges),
            "total_s": round(total, 1),
            "windows": windows,
            "last_over_first": round(last / first, 3) if first else None,
            "persistent_rdds_after": spark.sparkContext._jsc
            .getPersistentRDDs().size(),
        }

    docs = load_table(spark, args.sf_dir, "documents")
    fixture_vocab = (
        docs.selectExpr("explode(split(lower(trim(text)), '\\\\s+')) AS w")
        .filter("w != ''")
        .selectExpr("count(DISTINCT w) AS v")
        .collect()[0]["v"]
    )
    # Arm 1 — the fixture corpus. Its synthetic text draws from a tiny
    # word list, so BPE SATURATES (every word becomes one token) after
    # ~90 merges: it proves flatness over its range but cannot reach
    # production merge counts.
    fixture_arm = run_arm(None, args.n)

    # Arm 2 — a deterministic wide-vocabulary corpus (hash-derived
    # 8-hex-char pseudo-words, 20k distinct): enough pair diversity to
    # sustain the requested merge count, so the per-merge curve is
    # measured at production-like ranks. Probe-only synthesis — the
    # registered queries all run on the committed fixtures.
    wide = spark.range(200_000).selectExpr(
        "concat_ws(' ', "
        " substr(md5(cast(id % 20000 AS STRING)), 1, 8),"
        " substr(md5(cast((id * 31 + 7) % 20000 AS STRING)), 1, 8),"
        " substr(md5(cast((id * 17 + 3) % 20000 AS STRING)), 1, 8)"
        ") AS text"
    )
    wide_arm = run_arm(wide, args.n)

    print(
        json.dumps(
            {
                "metric": "bpe_merge_scale",
                "sf_dir": args.sf_dir,
                "fixture_vocab_words": fixture_vocab,
                "fixture_corpus": fixture_arm,
                "wide_corpus_20k_words": wide_arm,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
