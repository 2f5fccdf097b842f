"""The benchmark's workloads and their seeded WAL generator.

Every workload is a WAL written by the engine's own producer helpers
(``sources.change_stream.write_epoch`` / ``write_epoch_bucketed``) from the
repository's seeded generator (``gen.gen_changes``). The WAL is written once
per (workload, seed, parameters) outside every timed region and reused
read-only by later runs; the engine under test sees only the WAL directory.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

KEY_COLS = ("conv_id", "turn_idx")
N_BUCKETS = 8
# files per epoch of a flat (arbitrarily partitioned) WAL
FLAT_FILES = 4
# Generator settings shared by every workload (``gen.gen_changes``): Zipf-ish
# key skew, duplicate-LSN and late-event shares, conversation shape.
SKEW = 1.2
DUP_RATIO = 0.02
LATE_RATIO = 0.02
EVENTS_PER_CONV = 20
TURNS_PER_CONV = 10
# The warm-up WAL: a slice of the workload's own WAL, this share of its
# events over two epochs (so its state read folds delta generations like the
# measured one): enough rows for the JIT to compile the hot paths.
WARMUP_SHARE = 0.2
WARMUP_EPOCHS = 2


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    layout: str  # "bucketed": bucket-aligned WAL (copart path); "flat": any partitioning
    n_events: int
    n_epochs: int
    # every workload ingests one epoch per call; when > 0, an aggregate view
    # is refreshed after every ``refresh_every``-th call and the last
    refresh_every: int = 0

    def params(self) -> dict:
        d = asdict(self)
        d.pop("why")
        return d


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "shuffle_ingest",
            "arbitrarily partitioned WAL: the general apply with one exchange "
            "onto (bucket, salt) and a Spark LWW fold",
            layout="flat",
            n_events=90_000,
            n_epochs=6,
        ),
        Workload(
            "replay_consume",
            "small bucket-aligned epochs ingested one at a time, an aggregate view "
            "refreshed from the change feed, one compaction: reads beside small writes",
            layout="bucketed",
            n_events=27_000,
            # every epoch adds one delta generation to every bucket: the
            # eighth reaches the engine's default compact_threshold (8), so
            # every bucket compacts once, inline, and the ninth lays a delta
            # over the compacted files for the final reads to merge
            n_epochs=9,
            # a refresh costs 3-8 s whatever the epoch's size (the typed
            # feed's and the view merge's jobs): one per epoch would make a
            # cycle last a minute, so refreshes run after epochs 5 and 9,
            # each folding a catch-up window; the second spans the compaction
            refresh_every=5,
        ),
    )
}


def _generate(spark, wl: Workload, seed: int, out: str):
    from cnpj_data_pipeline_spark.gen import epoch_batches, gen_changes
    from cnpj_data_pipeline_spark.sources import change_stream as cs

    changes = gen_changes(
        spark,
        wl.n_events,
        n_convs=wl.n_events // EVENTS_PER_CONV,
        turns_per_conv=TURNS_PER_CONV,
        n_epochs=wl.n_epochs,
        seed=seed,
        dup_ratio=DUP_RATIO,
        late_ratio=LATE_RATIO,
        skew=SKEW,
    ).cache()  # computed once, not once per epoch's write
    for e, batch in epoch_batches(changes, wl.n_epochs):
        if wl.layout == "bucketed":
            cs.write_epoch_bucketed(batch, out, e, list(KEY_COLS), N_BUCKETS)
        else:
            # round-robin: rows of one key land in any file
            cs.write_epoch(batch.repartition(FLAT_FILES), out, e)
    changes.unpersist()


def _warmup_from(wal: str, out: str, events: int) -> None:
    """The warm-up WAL: the first ``WARMUP_EPOCHS`` epochs of ``wal`` cut to
    about ``events`` rows, keeping every file's place (so bucket alignment
    and the layout descriptor still hold)."""
    import pyarrow.parquet as pq

    for e in range(WARMUP_EPOCHS):
        src = os.path.join(wal, f"epoch={e}")
        per_file = max(events // (WARMUP_EPOCHS * len(wal_files(src))), 1)
        for d, _, fs in os.walk(src):
            dst = os.path.join(out, os.path.relpath(d, wal))
            os.makedirs(dst, exist_ok=True)
            for f in fs:
                if f.endswith(".parquet"):
                    t = pq.read_table(os.path.join(d, f))
                    pq.write_table(t.slice(0, per_file), os.path.join(dst, f))
                elif not f.startswith((".", "_SUCCESS")):
                    shutil.copyfile(os.path.join(d, f), os.path.join(dst, f))


def ensure_wal(spark, wl: Workload, seed: int, cache_root: str) -> tuple[str, str]:
    """Return (wal_dir, warmup_wal_dir) for ``wl`` at ``seed``, generating
    both on first use. A directory appears only once fully written, so an
    interrupted run never leaves a partial WAL behind for the next one."""
    tag = hashlib.sha256(
        json.dumps([
            wl.params(), seed, N_BUCKETS, SKEW, DUP_RATIO, LATE_RATIO,
            EVENTS_PER_CONV, TURNS_PER_CONV, WARMUP_SHARE, WARMUP_EPOCHS, FLAT_FILES,
        ]).encode()
    ).hexdigest()[:12]
    final = os.path.join(cache_root, f"{wl.name}-{seed}-{tag}")
    if not os.path.isdir(final):
        tmp = final + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _generate(spark, wl, seed, os.path.join(tmp, "wal"))
        _warmup_from(
            os.path.join(tmp, "wal"), os.path.join(tmp, "warmup"),
            int(wl.n_events * WARMUP_SHARE),
        )
        os.rename(tmp, final)
    return os.path.join(final, "wal"), os.path.join(final, "warmup")


def epoch_dirs(wal: str) -> list[str]:
    return sorted(d for d in os.listdir(wal) if d.startswith("epoch="))


def wal_files(wal: str) -> list[str]:
    out = []
    for d, _, fs in os.walk(wal):
        out.extend(os.path.join(d, f) for f in fs if f.endswith(".parquet"))
    return sorted(out)
