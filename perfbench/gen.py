"""Seeded input generator for the engine workloads.

Writes each batch as one JSON-lines file of Kinesis stream-event records
(base64 JSON message bodies) and returns the expected outcome of that batch,
so the benchmark can check the engine's counters against what was planted.

A workload's ``Shape`` fixes the key skew and the planted shares:

- ``reject``: messages the benchmark's task rejects (-> DMQ);
- ``transient``: messages whose task fails on its first attempt only, at most
  one per key chain per batch, so a batch needs exactly one replay;
- ``unusable``: records whose data is bad base64 or not JSON (-> DRQ);
- ``kpl``: records that are KPL aggregates of ``kpl_size`` user records.

The same seed always gives the same files and the same manifest.
"""

from __future__ import annotations

import base64
import bisect
import itertools
import json
import random
from dataclasses import dataclass
from datetime import datetime, timedelta
from typing import Dict, List, Optional

from kinesis_stream_consumer_spark.sources.kpl import kpl_aggregate

N_SHARDS = 4
T0 = datetime(2026, 1, 1)
ARN = "arn:aws:kinesis:us-west-2:111111111111:stream/BenchStream"


@dataclass(frozen=True)
class Shape:
    users: int = 1500
    types: int = 5
    zipf_s: Optional[float] = None  # None = uniform users
    reject: float = 0.2
    transient: float = 0.0
    unusable: float = 0.0
    kpl: float = 0.0
    kpl_size: int = 4


class Generator:
    """Stateful over batches: sequence numbers and ids keep rising, so every
    batch holds distinct messages."""

    def __init__(self, shape: Shape, seed: int):
        self.shape = shape
        self.rng = random.Random(seed)
        self.seq = itertools.count(1)
        self.rec_seq = itertools.count(1)
        if shape.zipf_s is None:
            self._cum = None
        else:
            w = [1.0 / (u + 1) ** shape.zipf_s for u in range(shape.users)]
            self._cum = list(itertools.accumulate(w))

    def _user(self) -> int:
        if self._cum is None:
            return self.rng.randrange(self.shape.users)
        x = self.rng.random() * self._cum[-1]
        return bisect.bisect_left(self._cum, x)

    def _record(self, shard: int, pkey: str, data_b64: str) -> dict:
        seq_no = f"{next(self.rec_seq):056d}"
        return {
            "eventID": f"shardId-{shard:012d}:{seq_no}",
            "eventVersion": "1.0",
            "eventName": "aws:kinesis:record",
            "eventSource": "aws:kinesis",
            "eventSourceARN": ARN,
            "awsRegion": "us-west-2",
            "invokeIdentityArn": "arn:aws:iam::111111111111:role/consumer",
            "kinesis": {
                "kinesisSchemaVersion": "1.0",
                "partitionKey": pkey,
                "sequenceNumber": seq_no,
                "data": data_b64,
            },
        }

    def batch(self, n_messages: int, path: str) -> Dict[str, int]:
        """Write one batch of ``n_messages`` usable messages (plus planted
        unusable records) to ``path`` and return its manifest."""
        sh, rng = self.shape, self.rng
        msgs = []
        for _ in range(n_messages):
            s = next(self.seq)
            user = self._user()
            msgs.append(
                {
                    "id1": s,
                    "k1": user,
                    "k2": f"type{rng.randrange(sh.types)}",
                    "n1": (T0 + timedelta(milliseconds=s)).isoformat(
                        timespec="microseconds"
                    ),
                    "n2": s,
                    "value": round(rng.random() * 1000, 3),
                    "note": "m%08x" % rng.getrandbits(32),
                }
            )
        n_rej = round(sh.reject * n_messages)
        for i in rng.sample(range(n_messages), n_rej):
            msgs[i]["reject"] = True

        # chains: per-key order is generation order (n1/n2 rise with id1)
        chains: Dict[tuple, List[int]] = {}
        for i, m in enumerate(msgs):
            chains.setdefault((m["k1"], m["k2"]), []).append(i)
        want_fail = round(sh.transient * n_messages)
        blocked = 0
        rejected_unblocked = n_rej
        if want_fail:
            keys = list(chains)
            rng.shuffle(keys)
            failed = 0
            for k in keys:
                if failed == want_fail:
                    break
                chain = chains[k]
                cand = [p for p, i in enumerate(chain) if "reject" not in msgs[i]]
                if not cand:
                    continue
                pos = rng.choice(cand)
                msgs[chain[pos]]["fail_once"] = True
                failed += 1
                rest = chain[pos + 1:]
                blocked += len(rest)
                rejected_unblocked -= sum("reject" in msgs[i] for i in rest)
            if failed != want_fail:
                raise ValueError("too few chains for the transient share")

        # records: plain, KPL aggregates of kpl_size user records
        # (the record's shard is its messages' shard: k1 of its first one)
        records = []
        shard_messages = [0] * N_SHARDS
        kpl_records = kpl_user_records = 0
        i = 0
        while i < n_messages:
            m = msgs[i]
            shard = m["k1"] % N_SHARDS
            if sh.kpl and n_messages - i >= sh.kpl_size and rng.random() < sh.kpl:
                group = msgs[i:i + sh.kpl_size]
                blob = kpl_aggregate(
                    [(str(g["k1"]), json.dumps(g).encode()) for g in group]
                )
                data = base64.b64encode(blob).decode()
                kpl_records += 1
                kpl_user_records += len(group)
            else:
                group = [m]
                data = base64.b64encode(json.dumps(m).encode()).decode()
            i += len(group)
            shard_messages[shard] += len(group)
            records.append(self._record(shard, str(m["k1"]), data))
        n_unusable = round(sh.unusable * len(records) / (1.0 - sh.unusable))
        for j in range(n_unusable):
            if j % 2:
                data = "%%not-base64%%" + "%x" % rng.getrandbits(32)
            else:
                data = base64.b64encode(b"not json {%d" % j).decode()
            pos = rng.randrange(len(records) + 1)
            records.insert(pos, self._record(rng.randrange(N_SHARDS), "bad", data))

        with open(path, "w") as f:
            for r in records:
                f.write(json.dumps(r))
                f.write("\n")
        return {
            "records": len(records),
            "messages": n_messages,
            "unusable": n_unusable,
            "rejected": n_rej,
            "transient": want_fail,
            "blocked_first_attempt": blocked,
            "rejected_first_attempt": rejected_unblocked,
            "kpl_records": kpl_records,
            "kpl_user_records": kpl_user_records,
            "shard_messages": shard_messages,
            "chains": len(chains),
            "max_chain_len": max(len(c) for c in chains.values()),
        }
