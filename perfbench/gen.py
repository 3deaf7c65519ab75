"""Seeded input generators for the benchmark workloads.

Every generator takes the workload seed and its sizes as arguments, writes
under the cache directory keyed by both, and returns what the correctness
checks need.  A finished corpus is marked by a `done.json` written last, so
an interrupted generation is redone rather than reused.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from collections import Counter

NETWORK = "gnosis"
SLOTS_PER_ERA = 8192  # era_number = slot div 8192, as in the state store

# Gnosis electra activates at epoch 1_337_856 = slot 21_405_696, the first
# slot of era 2613: eras 2610..2612 are deneb and 2613.. electra, so every
# one of the 15 normalized tables gets rows, the request tables included.
FIRST_ERA = 2610
ELECTRA_ERA = 2613


def _done(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "done.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _finish(path: str, meta: dict) -> dict:
    with open(os.path.join(path, "done.json"), "w") as f:
        json.dump(meta, f)
    return meta


def era_filename(era: int) -> str:
    return f"{NETWORK}-{era:05d}-deadbeef.era"


def expected_table_rows(doc: dict) -> Counter:
    """Rows one block document contributes to each normalized table,
    derived from the generator's documents alone (not from the engine)."""
    b = doc["message"]["body"]
    c = Counter(blocks=1)
    if b.get("sync_aggregate") is not None:
        c["sync_aggregates"] += 1
    p = b.get("execution_payload")
    if p is not None:
        c["execution_payloads"] += 1
        c["transactions"] += len(p["transactions"])
        c["withdrawals"] += len(p.get("withdrawals", ()))
    c["attestations"] += len(b["attestations"])
    c["deposits"] += len(b["deposits"])
    c["voluntary_exits"] += len(b["voluntary_exits"])
    c["proposer_slashings"] += len(b["proposer_slashings"])
    c["attester_slashings"] += len(b["attester_slashings"])
    c["bls_changes"] += len(b.get("bls_to_execution_changes", ()))
    c["blob_commitments"] += len(b.get("blob_kzg_commitments", ()))
    req = b.get("execution_requests") or {}
    c["deposit_requests"] += len(req.get("deposits", ()))
    c["withdrawal_requests"] += len(req.get("withdrawals", ()))
    c["consolidation_requests"] += len(req.get("consolidations", ()))
    return c


def write_era_file(path: str, era: int, slots: int, missing_rate: float, seed: int) -> dict:
    """One era file with the first `slots` slots of `era`; each slot is
    missed with probability `missing_rate` (seeded).  Returns the era's
    expected per-table rows, block count and file size, plus the keys the
    point lookups draw from: the slots present and one slashed validator
    per attester slashing."""
    from era_parser_spark.parsing.beacon import encode_signed_block
    from era_parser_spark.parsing.e2store import write_era
    from era_parser_spark.config.networks import fork_at_slot
    from era_parser_spark.testing.era_gen import make_block_doc

    rng = random.Random(seed * 1_000_003 + era)
    payloads, rows, slashed = [], Counter(), []
    slots_present = []
    for i in range(slots):
        if rng.random() < missing_rate:
            continue
        slot = era * SLOTS_PER_ERA + i
        doc = make_block_doc(slot, NETWORK, random.Random(rng.getrandbits(62)))
        payloads.append(encode_signed_block(doc, fork_at_slot(slot, NETWORK)))
        rows += expected_table_rows(doc)
        slots_present.append(slot)
        for s in doc["message"]["body"]["attester_slashings"]:
            slashed.append(s["attestation_1"]["attesting_indices"][0])
    data = write_era(payloads, state=b"\x00" * 256)
    with open(path, "wb") as f:
        f.write(data)
    return {
        "era": era,
        "blocks": len(payloads),
        "bytes": len(data),
        "rows": dict(rows),
        "slots": slots_present,
        "slashed": slashed,
    }


def era_corpus(
    cache: str,
    seed: int,
    eras: int,
    slots: int,
    missing_rate: float,
    held: int = 1,
    first_era: int = FIRST_ERA,
) -> dict:
    """`eras` era files for the backfill plus `held` held-back eras, which
    land one per tick.

    Layout: <dir>/eras/ holds the backfill eras, <dir>/held/ the tick eras,
    which the workload links into its own era directory to make them land.
    """
    key = f"era_s{seed}_f{first_era}_e{eras}_h{held}_n{slots}_m{int(missing_rate * 1000)}"
    path = os.path.join(cache, key)
    meta = _done(path)
    if meta is not None:
        return meta
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "eras"))
    os.makedirs(os.path.join(path, "held"))
    per_era = []
    for k in range(eras + held):
        era = first_era + k
        sub = "held" if k >= eras else "eras"
        info = write_era_file(
            os.path.join(path, sub, era_filename(era)), era, slots, missing_rate, seed
        )
        per_era.append(info)
    return _finish(path, {"dir": path, "eras": per_era[:eras], "held": per_era[eras:]})

