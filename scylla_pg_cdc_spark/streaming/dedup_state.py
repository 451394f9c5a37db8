"""Cross-epoch near-dup dedup state: greedy LSH admission.

The batch query ``operators/text.py:q_neardup_incremental`` shows one
epoch's admission against a static corpus; this module is the
STATEFUL form a CDC-fed corpus actually runs: the admitted corpus's
LSH band buckets and token sets persist as partitioned parquet, each
incoming epoch joins ONLY against that state, and docs admitted by an
epoch immediately extend the state the next epoch sees — greedy
sequential dedup, the standard training-corpus admission policy
(first-seen doc wins; later near-copies are rejected).
``run_dedup_pipeline`` is the streaming face: readStream over a
document directory -> foreachBatch greedy admission, the same
marker-gated epoch discipline as the upsert pipeline's MV/digest/
drift stages (`streaming/pipeline.py`).

Reference anchor: the same persist-then-merge epoch discipline as the
upsert pipeline's MV/digest state (`streaming/pipeline.py:275-380`);
the reference's own stateful sink is the Postgres upsert table
(`docker/kafka-connect/connectors/postgres-sink.json:22-24`).

Epoch-replay idempotence: each epoch's state additions land in their
OWN subdirectory (``state/buckets/<marker>/``, ``state/tokens/
<marker>/``) written with mode=overwrite, and the admission read
EXCLUDES the current marker's subdirectory — so a foreachBatch replay
after a mid-write crash recomputes the identical decisions against
exactly the prior-epoch state and overwrites its own partial output,
never double-counting (the earlier flat-append layout could not
self-exclude and inflated n_matches under replay).

Scale: per epoch the cost is O(batch) hashing + a bucket-keyed join
against state partitioned BY BUCKET PREFIX, so a 100 TB corpus's
state is touched only on matching buckets; the exact-confirm join is
bounded by LSH candidates. State grows with the ADMITTED corpus only;
epoch subdirectories are append-units a background job compacts
(``compact_dedup_state``, `tools/compact_state.py`). The 9/10
token-Jaccard confirm matches the batch query.

Determinism caveat (documented, also true of any parallel greedy
dedup): near-dup pairs WITHIN one epoch are both admitted (epoch
members are only checked against prior state, exactly like the batch
query); shrink the epoch (``max_files_per_trigger=1``) or
pre-collapse epochs with ``lsh_candidate_pairs`` when intra-epoch
dups matter.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scylla_pg_cdc_spark.operators.text import (
    banded_buckets,
    minhash_signatures,
    shingles,
    with_n_common,
)

_T_NUM, _T_DEN = 9, 10  # admit iff jaccard < 9/10 vs every state doc


def _batch_features(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(buckets, token arrays) for an incoming epoch of (doc_id, text).

    Docs too short to shingle (< 3 tokens) get no buckets — they are
    always admitted, same as in the batch query."""
    bucket = banded_buckets(minhash_signatures(shingles(batch)))
    toks = (
        batch.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .filter(F.length("token") > 0)
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_set("token")).alias("toks"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return bucket, toks


def _has_parquet(path: str) -> bool:
    for _root, _dirs, files in os.walk(path):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def _compaction_manifest(state_dir: str) -> dict:
    """The compactor's atomic manifest: ``{"generation": N,
    "compacted": ["compacted-000001", ...], "covers": [epoch dirs
    merged into them]}``. Readers SKIP covered epoch dirs even if the
    compactor's post-commit cleanup hasn't deleted them yet, and read
    ``compacted-*`` dirs ONLY when the manifest lists them — so every
    crash point of the compactor leaves one consistent view (the
    manifest swap via os.replace is the commit point)."""
    import json

    try:
        with open(os.path.join(state_dir, "_COMPACTION")) as f:
            return json.load(f)
    except OSError:
        return {"generation": 0, "compacted": [], "covers": []}


def _state_parts(
    state_dir: str, sub: str, exclude: str | None
) -> list[str]:
    """Committed state subdirectories under ``state_dir/sub``, oldest
    first, skipping ``exclude`` (the in-flight epoch's own partial
    output on replay), empty epochs (nothing admitted), epochs the
    compaction manifest marks as merged, and staged-but-uncommitted
    ``compacted-*`` dirs."""
    d = os.path.join(state_dir, sub)
    if not os.path.isdir(d):
        return []
    man = _compaction_manifest(state_dir)
    covered = set(man["covers"])
    live_compacted = set(man["compacted"])
    return sorted(
        os.path.join(d, m)
        for m in os.listdir(d)
        if not m.startswith(("_", "."))
        and m != exclude
        and m not in covered
        and (not m.startswith("compacted-") or m in live_compacted)
        and _has_parquet(os.path.join(d, m))
    )


def admit_epoch(
    spark: SparkSession,
    state_dir: str,
    batch: DataFrame,
    marker: str | None = None,
) -> DataFrame:
    """Admit one epoch of (doc_id, text) against the persisted state.

    Returns the admission frame (doc_id, is_new, n_matches) and writes
    the admitted docs' buckets + token arrays into an epoch-scoped
    state subdirectory named ``marker`` (auto-numbered when None, for
    batch-driven use). Re-running with the SAME marker and batch is
    idempotent: the read excludes the marker's own subdirectory and
    the write overwrites it. First epoch bootstraps the state
    (everything admitted)."""
    if marker is None:
        # monotonic auto-number: max over everything ever seen (disk
        # AND compaction-covered names) so a compaction that deletes
        # merged epoch dirs can never cause a marker collision
        bdir0 = os.path.join(state_dir, "buckets")
        seen = set(_compaction_manifest(state_dir)["covers"])
        if os.path.isdir(bdir0):
            seen.update(
                m for m in os.listdir(bdir0) if not m.startswith(("_", "."))
            )
        nums = [
            int(m[1:])
            for m in seen
            if m.startswith("b") and m[1:].isdigit()
        ]
        marker = f"b{(max(nums) + 1 if nums else 0):06d}"
    bdir = os.path.join(state_dir, "buckets")
    tdir = os.path.join(state_dir, "tokens")
    bucket_b, toks_b = _batch_features(batch)
    bparts = _state_parts(state_dir, "buckets", marker)
    tparts = _state_parts(state_dir, "tokens", marker)
    if not bparts or not tparts:
        decisions = batch.select(
            "doc_id",
            F.lit(True).alias("is_new"),
            F.lit(0).cast("long").alias("n_matches"),
        )
    else:
        # per-epoch roots carry their own bp= partition layout, so read
        # each separately and union (multi-root discovery rejects this)
        state_buckets = reduce(
            DataFrame.unionByName,
            [
                spark.read.parquet(p).select("doc_id", "band", "bucket")
                for p in bparts
            ],
        )
        state_toks = reduce(
            DataFrame.unionByName,
            [
                spark.read.parquet(p).select("doc_id", "toks", "n")
                for p in tparts
            ],
        )
        cand = (
            bucket_b.alias("b")
            .join(
                state_buckets.alias("s"),
                (F.col("b.band") == F.col("s.band"))
                & (F.col("b.bucket") == F.col("s.bucket")),
            )
            .select(
                F.col("b.doc_id").alias("doc_n"),
                F.col("s.doc_id").alias("doc_c"),
            )
            .distinct()
        )
        matches = (
            cand.join(
                toks_b.select(
                    F.col("doc_id").alias("doc_n"),
                    F.col("toks").alias("toks_a"),
                    F.col("n").alias("n_a"),
                ),
                "doc_n",
            )
            .join(
                state_toks.select(
                    F.col("doc_id").alias("doc_c"),
                    F.col("toks").alias("toks_b"),
                    F.col("n").alias("n_b"),
                ),
                "doc_c",
            )
            .transform(with_n_common)
            .filter(
                F.lit(_T_DEN) * F.col("n_common")
                >= F.lit(_T_NUM)
                * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            )
            .groupBy(F.col("doc_n").alias("doc_id"))
            .agg(F.count(F.lit(1)).alias("n_matches"))
        )
        decisions = (
            batch.select("doc_id")
            .join(matches, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_matches", F.lit(0))
                .cast("long")
                .alias("n_matches"),
            )
            .withColumn("is_new", F.col("n_matches") == 0)
            .select("doc_id", "is_new", "n_matches")
        )
    admitted = decisions.filter(F.col("is_new")).select("doc_id")
    bucket_b.join(admitted, "doc_id").withColumn(
        "bp", F.substring("bucket", 1, 1)
    ).write.mode("overwrite").partitionBy("bp").parquet(
        os.path.join(bdir, marker)
    )
    toks_b.join(admitted, "doc_id").write.mode("overwrite").parquet(
        os.path.join(tdir, marker)
    )
    return decisions


def _epoch_num(name: str | None) -> int | None:
    """Numeric id of an ``epoch-<n>`` marker (padded or not), else
    None — epoch ordering must NEVER be a string compare (ADVICE r6:
    'epoch-10' <= 'epoch-9' lexicographically)."""
    if name and name.startswith("epoch-") and name[6:].isdigit():
        return int(name[6:])
    return None


def _epoch_marker(state_dir: str) -> str | None:
    try:
        with open(os.path.join(state_dir, "_EPOCH")) as f:
            return f.read().strip()
    except OSError:
        return None


def maybe_compact_dedup_state(
    spark: SparkSession, state_dir: str, epoch_threshold: int = 8
) -> dict:
    """Cadenced compaction: run ``compact_dedup_state`` only once the
    number of LIVE un-merged state parts reaches ``epoch_threshold``. Keeps
    ``admit_epoch``'s read fan-in bounded at O(threshold) while
    amortizing the merge cost over that many epochs; cheap enough to
    call after EVERY committed epoch."""
    live = len(_state_parts(state_dir, "buckets", None))
    if live < epoch_threshold:
        return {
            "merged": [],
            "generation": _compaction_manifest(state_dir)["generation"],
            "skipped": f"{live} live parts < threshold {epoch_threshold}",
        }
    return compact_dedup_state(spark, state_dir)


def run_dedup_pipeline(
    spark: SparkSession,
    docs_dir: str,
    work_dir: str,
    max_files_per_trigger: int = 1,
    compact_every: int | None = None,
) -> dict[str, str]:
    """Streaming greedy dedup admission: readStream over a directory
    of document parquet files -> foreachBatch(admit_epoch) with the
    pipeline's marker-gated idempotence — each epoch's decisions land
    in ``work_dir/decisions/<marker>/`` (epoch_id column attached) and
    its admitted docs extend ``work_dir/state``. An ``availableNow``
    restart with the same checkpoint is a no-op; a crash-replayed
    epoch recomputes against exactly the prior-epoch state (see module
    docstring). ``max_files_per_trigger=1`` gives per-file epochs —
    the tightest greedy granularity a file stream offers.
    ``compact_every=N`` runs the cadenced compactor after each
    committed epoch (merge fires when N live parts accumulate), so a
    long-lived deployment's read fan-in stays O(N) without any
    external scheduler — the compaction runs AFTER the marker commit,
    exactly the between-epochs point the interleaved-appender test
    exercises."""
    state_dir = os.path.join(work_dir, "state")
    dec_dir = os.path.join(work_dir, "decisions")
    checkpoint = os.path.join(work_dir, "checkpoint")
    schema = spark.read.parquet(docs_dir).select("doc_id", "text").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(os.path.join(docs_dir, "*.parquet"))
    )

    def process(batch: DataFrame, epoch_id: int) -> None:
        marker = f"epoch-{epoch_id:09d}"
        if _epoch_marker(state_dir) == marker:
            return  # replayed epoch, already fully committed
        decisions = admit_epoch(
            spark, state_dir, batch.select("doc_id", "text"), marker=marker
        )
        decisions.withColumn(
            "epoch_id", F.lit(epoch_id).cast("long")
        ).write.mode("overwrite").parquet(os.path.join(dec_dir, marker))
        os.makedirs(state_dir, exist_ok=True)
        with open(os.path.join(state_dir, "_EPOCH"), "w") as f:
            f.write(marker)
        if compact_every:
            maybe_compact_dedup_state(spark, state_dir, compact_every)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {
        "state": state_dir,
        "decisions": dec_dir,
        "checkpoint": checkpoint,
    }


def compact_dedup_state(
    spark: SparkSession, state_dir: str, min_parts: int = 2
) -> dict:
    """Merge the accumulated epoch subdirectories (and any previous
    compaction output) into ONE ``compacted-<gen>`` generation per
    state family — the background job that keeps ``admit_epoch``'s
    per-epoch read fan-in O(1) instead of O(epochs).

    Safe beside a LIVE appender and under any crash point:

    - only epochs at or below the committed ``state/_EPOCH`` marker
      are merged (an in-flight epoch's partial subdir is never read);
    - the merged output is staged under ``compacted-<gen>`` — readers
      ignore compacted dirs the manifest doesn't list, so the stage
      is invisible;
    - the COMMIT is one atomic ``os.replace`` of the ``_COMPACTION``
      manifest: afterwards readers use the new generation and skip
      the merged inputs even though they still exist on disk (no
      window where a state doc is visible twice or not at all);
    - input deletion is DEFERRED one generation: committing gen N
      removes only gen N-1's pending_delete list (deleted just BEFORE
      the gen-N manifest swap — those dirs are invisible to readers
      of both the N-1 and N manifests, and doing it pre-swap means a
      crash at any point leaves them either on disk and still listed,
      or gone and about to be delisted — never orphaned unlisted
      garbage); a live admit_epoch still scanning under the previous
      manifest never has a dir deleted out from under it. The
      no-merge drain path additionally requires the committed epoch
      marker to have ADVANCED past the one recorded at the delisting
      commit (``pending_delete_epoch``) — proof that the admit that
      could have been mid-scan under the stale manifest has finished
      — before it removes anything.

    Concurrency contract: safe beside the marker-gated streaming
    pipeline (epoch-%09d markers, compared NUMERICALLY against the
    committed ``state/_EPOCH``). Batch-driven/ad-hoc admitters
    (auto ``b*`` or custom markers) publish no commit marker, so the
    compactor cannot distinguish their in-flight dirs from committed
    ones — do NOT run compaction concurrently with those.

    Returns {"merged": [...], "generation": n, "skipped": reason?}.
    """
    import json
    import shutil

    committed = _epoch_marker(state_dir)
    man = _compaction_manifest(state_dir)
    candidates = [
        os.path.basename(p)
        for p in _state_parts(state_dir, "buckets", None)
    ]
    # never merge past the committed marker. Epoch ids compare
    # NUMERICALLY (ADVICE r6: a lexicographic 'epoch-10' <= 'epoch-9'
    # would let the compactor merge — then delete — an in-flight
    # epoch dir under unpadded markers, and never compact unpadded
    # committed epochs once ids reach 10+). Auto-numbered b* markers
    # (batch-driven use) are committed by construction once
    # admit_epoch RETURNS, but a compactor cannot see an in-flight
    # one — hence the concurrency contract in the docstring: run
    # compaction beside the marker-gated pipeline only, never beside
    # a non-pipeline (b*/ad-hoc) admitter.
    committed_n = _epoch_num(committed) if committed else None

    def _merge_ok(m: str) -> bool:
        if m.startswith("compacted-"):
            return True
        if not m.startswith("epoch-"):
            return True  # b*/ad-hoc markers: see concurrency contract
        n = _epoch_num(m)
        return committed_n is not None and n is not None and n <= committed_n

    mergeable = [m for m in candidates if _merge_ok(m)]
    if len(mergeable) < min_parts:
        # drain the previous commit's deferred deletions ONLY once the
        # committed epoch marker has advanced past the one recorded at
        # that commit (ADVICE r7: an admit that loaded the pre-commit
        # manifest can still be mid-scan right after the commit; a
        # newer committed epoch proves it finished). Legacy manifests
        # or non-epoch markers record no epoch -> leave the drain to
        # the next real commit's one-generation deferral.
        pend = man.get("pending_delete", [])
        pend_epoch = man.get("pending_delete_epoch")
        if (
            pend
            and pend_epoch is not None
            and committed_n is not None
            and committed_n > pend_epoch
        ):
            for sub in ("buckets", "tokens"):
                for m in pend:
                    shutil.rmtree(
                        os.path.join(state_dir, sub, m), ignore_errors=True
                    )
            tmp = os.path.join(state_dir, "_COMPACTION.tmp")
            with open(tmp, "w") as f:
                json.dump(
                    dict(man, pending_delete=[], pending_delete_epoch=None),
                    f,
                )
            os.replace(tmp, os.path.join(state_dir, "_COMPACTION"))
        return {
            "merged": [],
            "generation": man["generation"],
            "skipped": f"only {len(mergeable)} mergeable parts",
        }
    gen = man["generation"] + 1
    out_name = f"compacted-{gen:06d}"
    for sub, cols, pby in (
        ("buckets", ["doc_id", "band", "bucket"], "bp"),
        ("tokens", ["doc_id", "toks", "n"], None),
    ):
        parts = [
            os.path.join(state_dir, sub, m)
            for m in mergeable
            if _has_parquet(os.path.join(state_dir, sub, m))
        ]
        if not parts:
            continue
        merged = reduce(
            DataFrame.unionByName,
            [spark.read.parquet(p).select(*cols) for p in parts],
        )
        out = os.path.join(state_dir, sub, out_name)
        shutil.rmtree(out, ignore_errors=True)
        if pby:
            merged.withColumn(
                pby, F.substring("bucket", 1, 1)
            ).write.mode("overwrite").partitionBy(pby).parquet(out)
        else:
            merged.write.mode("overwrite").parquet(out)
    # Drain the PREVIOUS generation's inputs BEFORE the manifest swap
    # (ADVICE r7: deleting after the swap left a crash window in which
    # gen N-1's pending list was already replaced in the new manifest
    # yet its dirs survived on disk, referenced by no manifest — never
    # collectable). Pre-swap is equally safe: those dirs were delisted
    # by manifest N-1, so they are invisible to readers of both the
    # N-1 manifest (the newest any live reader can hold) and the N
    # manifest about to commit. Crash here = dirs gone but still
    # listed in N-1's pending_delete; the next commit or epoch-guarded
    # drain rmtree's them as a no-op and clears the list.
    for sub in ("buckets", "tokens"):
        for m in man.get("pending_delete", []):
            shutil.rmtree(os.path.join(state_dir, sub, m), ignore_errors=True)
    # COMMIT: one atomic manifest swap. Inputs merged THIS generation
    # go on the pending_delete list and are removed only when the NEXT
    # generation commits (ADVICE r6: an admit_epoch that read the
    # PREVIOUS manifest is still scanning the old epoch dirs and
    # ignoring the new compacted-* dir — immediate deletion raced it
    # into missing state or mid-scan file-not-found; one-generation
    # deferral keeps every dir a stale-manifest reader can reference
    # on disk until a full compaction cycle has passed).
    # pending_delete_epoch records the committed epoch AT THIS COMMIT
    # so the no-merge drain path can prove a full admit cycle has
    # passed before deleting (None for non-epoch/batch markers — then
    # only the next commit may drain).
    new_man = {
        "generation": gen,
        "compacted": [out_name],
        "covers": sorted(
            set(man["covers"])
            | {m for m in mergeable if not m.startswith("compacted-")}
        ),
        "pending_delete": sorted(mergeable),
        "pending_delete_epoch": committed_n,
    }
    tmp = os.path.join(state_dir, "_COMPACTION.tmp")
    with open(tmp, "w") as f:
        json.dump(new_man, f)
    os.replace(tmp, os.path.join(state_dir, "_COMPACTION"))
    return {"merged": mergeable, "generation": gen}


def read_decisions(spark: SparkSession, dec_dir: str) -> DataFrame:
    """All epochs' admission decisions:
    (doc_id, is_new, n_matches, epoch_id)."""
    parts = sorted(
        os.path.join(dec_dir, m)
        for m in os.listdir(dec_dir)
        if not m.startswith(("_", ".")) and _has_parquet(os.path.join(dec_dir, m))
    )
    return spark.read.parquet(*parts)
