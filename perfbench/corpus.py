"""Seeded many-validator CometBFT log corpus.

Writes one NDJSON ``node<i>.log`` per validator (the reference layout)
for a network of ``validators`` nodes with distinct node ids and
validator addresses. Everything the seed draws changes values, never
counts: per-link latency and jitter, which messages are lost, which
heights need a second round, where the malformed lines sit. So every
seed of one size writes the same number of lines per event type, and
timings across seeds compare like for like.

The generator keeps exact expected counts of what it wrote:
``events`` per normalized ``event_type`` and ``rejects`` per dispatcher
drop reason (``no_tag``, ``invalid_args``, ``unknown_tag``).

Run as a script to write a corpus and print its counts:

    python3 -m perfbench.corpus OUT_DIR --seed 7 --validators 16 --heights 12
"""

from __future__ import annotations

import base64
import json
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

from cometbft_log_etl_spark.functions.blocktext import render_block
from cometbft_log_etl_spark.functions.protowire import encode_message

BASE = datetime(2025, 6, 1, 12, 0, 0, tzinfo=timezone.utc)
STATE, DATA, VOTE = 0x20, 0x21, 0x22

# Fixed shares, so that every seed of one size writes the same counts.
LOST_SHARE = 0.02  # vote deliveries with no "Received bytes" line
ROUND1_SHARE = 0.15  # heights whose round 0 times out


BLOCK_PARTS = 2  # parts per proposal block


@dataclass(frozen=True)
class CorpusSpec:
    validators: int
    heights: int


@dataclass
class Corpus:
    spec: CorpusSpec
    seed: int
    lines: dict[int, list[tuple[int, int, str]]] = field(default_factory=dict)
    events: Counter = field(default_factory=Counter)
    rejects: Counter = field(default_factory=Counter)
    dropped_lines: int = 0  # recognized tags that emit no event

    @property
    def total_lines(self) -> int:
        return sum(len(v) for v in self.lines.values())


def _ts(us: int) -> str:
    t = BASE + timedelta(microseconds=us)
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f") + "000Z"


class _Writer:
    """Appends lines to per-node buffers and counts what they become."""

    def __init__(self, spec: CorpusSpec, seed: int):
        self.rng = random.Random(seed)
        self.c = Corpus(spec=spec, seed=seed, lines={i: [] for i in range(spec.validators)})
        n = spec.validators
        self.node_ids = [self.rng.getrandbits(160).to_bytes(20, "big").hex() for _ in range(n)]
        self.val_addrs = [self.rng.getrandbits(160).to_bytes(20, "big").hex().upper() for _ in range(n)]
        self.peer_addr = [f"10.{i // 250}.{i % 250}.{self.rng.randint(1, 254)}:26656" for i in range(n)]
        # symmetric per-link one-way latency in ms; a few slow nodes
        slow = set(self.rng.sample(range(n), max(1, n // 8)))
        self.lat = [[0] * n for _ in range(n)]
        for a in range(n):
            for b in range(a + 1, n):
                ms = self.rng.randint(15, 120) + (250 if a in slow or b in slow else 0)
                self.lat[a][b] = self.lat[b][a] = ms
        self.seq = 0

    def raw(self, node: int, us: int, text: str) -> None:
        self.seq += 1
        self.c.lines[node].append((us, self.seq, text))

    def log(self, node: int, us: int, msg: str, **fields) -> None:
        obj = {"_msg": msg, "ts": _ts(us), "module": "consensus", "level": "info", **fields}
        self.raw(node, us, json.dumps(obj, separators=(",", ":")))

    # --- emitters (event bookkeeping mirrors the normalizer) -------------

    def identity(self, node: int, us: int) -> None:
        self.log(node, us, "P2P Node ID", ID=self.node_ids[node], file=f"/data/node{node}/node_key.json")
        self.log(node, us + 1000, "This node is a validator", addr=self.val_addrs[node], pubKey="cGsK")

    def new_round(self, node: int, us: int, h: int, r: int, proposer: int) -> None:
        prev = f"{h - 1}/0/RoundStepCommit" if r == 0 else f"{h}/{r - 1}/RoundStepPrecommitWait"
        self.log(
            node, us, "Entering new round",
            current=f"{h}/{r}/RoundStepNewRound", previous=prev,
            proposer=self.val_addrs[proposer][:12], height=h, round=r,
        )
        self.c.events["entering_new_round"] += 1

    def entering_step(self, node: int, us: int, h: int, r: int, step: str) -> None:
        camel = "".join(w.capitalize() for w in step.split("_"))
        self.log(node, us, f"Entering {step.replace('_', ' ')} step",
                 current=f"{h}/{r}/RoundStep{camel}", height=h, round=r)
        if step == "propose":
            self.c.dropped_lines += 1  # the converter skips the propose target
        else:
            self.c.events[f"entering_{step.split('_')[0]}_step"] += 1

    def propose_step(self, node: int, us: int, h: int, r: int, proposer: int) -> None:
        msg = "Propose step; our turn to propose" if node == proposer else "Propose step; not our turn to propose"
        self.log(node, us, msg, height=h, round=r, proposer=self.val_addrs[proposer][:12])
        self.c.events["propose_step"] += 1

    def send(self, a: int, b: int, us: int, channel: int, kind: str, *, lost=False, try_send=False, **kw) -> int:
        """Send from a to b; returns the receive time (or the send time when lost)."""
        payload = encode_message(kind, **kw)
        fields = dict(channel=channel, conn=f"MConn{{{self.peer_addr[b]}}}", msgBytes=payload.hex().upper())
        if not try_send:
            fields["peer"] = f"{self.node_ids[b]}@{self.peer_addr[b]}"
        self.log(a, us, "TrySend" if try_send else "Send", **fields)
        self.c.events[f"send_{kind}"] += 1
        if lost:
            return us
        rx = us + 1000 * self.lat[a][b] + self.rng.randint(0, 4000)
        self.log(b, rx, "Received bytes", chID=channel, msgBytes=base64.b64encode(payload).decode(),
                 peer=f"{self.node_ids[a]}@{self.peer_addr[a]}")
        self.c.events[f"receive_packet_{kind}"] += 1
        return rx

    def received_proposal(self, node: int, us: int, h: int, r: int, bid: str, ps: str, proposer: int) -> None:
        s = f"Proposal{{{h}/{r} ({bid}:{BLOCK_PARTS}:{ps}, -1) ABCDEF012345 @ {_ts(us)}}}"
        self.log(node, us, "Received proposal", proposal=s, proposer=self.val_addrs[proposer][:12])
        self.c.events["received_proposal"] += 1

    def complete_block(self, node: int, us: int, h: int, bid: str) -> None:
        self.log(node, us, "Received complete proposal block", hash=bid, height=h)
        self.c.events["received_complete_proposal_block"] += 1

    def timeout(self, node: int, us: int, h: int, r: int, step: str, dur: str) -> None:
        self.log(node, us, "Scheduled timeout", dur=dur, height=h, round=r, step=step)
        self.c.events["scheduled_timeout"] += 1

    def committed(self, node: int, us: int, h: int, r: int, bid: str, proposer: int, signers: list[int]) -> None:
        t = BASE + timedelta(microseconds=us)
        prev = f"{h - 1:04X}" * 3
        block = {
            "header": {
                "version": {"block": 11, "app": 0}, "chain_id": "bench-chain", "height": h, "time": t,
                "last_block_id": {"hash": prev, "part_set_header": {"total": BLOCK_PARTS, "hash": "AB" * 6}},
                "last_commit_hash": "C1" * 6, "data_hash": "D2" * 6, "validators_hash": "E3" * 6,
                "next_validators_hash": "E4" * 6, "app_hash": "A5" * 6, "consensus_hash": "C6" * 6,
                "last_results_hash": "F7" * 6, "evidence_hash": "E8" * 6,
                "proposer_address": self.val_addrs[proposer][:12],
            },
            "data": {"txs": ["DEADBEEF"] * (h % 3)},
            "last_commit": {
                "height": h - 1, "round": r,
                "block_id": {"hash": prev, "part_set_header": {"total": BLOCK_PARTS, "hash": "AB" * 6}},
                "signatures": [
                    {"block_id_flag": 2, "validator_address": self.val_addrs[v], "timestamp": t, "signature": "5A" * 6}
                    for v in signers
                ],
            },
        }
        self.log(node, us, "Committed block", block=render_block(block, bid), height=h)
        self.c.events["committed_block"] += 1

    def malformed(self, node: int, us: int) -> None:
        """One line of each class the dispatcher drops, plus one
        recognized-but-unconverted type."""
        t = _ts(us)
        self.raw(node, us, json.dumps({"ts": t, "level": "info", "note": "no message tag"}))
        self.raw(node, us, "not json {{{")
        self.c.rejects["no_tag"] += 2
        self.raw(node, us, json.dumps({"_msg": "Entering prevote step with invalid args", "current": "x", "ts": t}))
        self.c.rejects["invalid_args"] += 1
        self.raw(node, us, json.dumps({"_msg": "Some unknown message", "ts": t}))
        self.c.rejects["unknown_tag"] += 1
        self.log(node, us, "Adding vote", cs_height=1, val_index=node, vote_height=1, vote_type="prevote")
        self.c.dropped_lines += 1


def _height(w: _Writer, h: int, r_final: int, t0: int, lost: set) -> int:
    """One height, rounds 0..r_final; returns the time the height ends."""
    n = w.c.spec.validators
    rng = w.rng
    jit = lambda hi: rng.randint(0, hi)  # noqa: E731 — microseconds
    t = t0
    for r in range(r_final + 1):
        proposer = (h + r) % n
        bid = f"{h:06X}{r:02X}{rng.getrandbits(24):06X}"
        ps = f"{rng.getrandbits(48):012X}"
        for v in range(n):
            s = t + jit(20_000)
            w.new_round(v, s, h, r, proposer)
            w.entering_step(v, s + 500, h, r, "propose")
            w.propose_step(v, s + 800, h, r, proposer)
        t += 30_000
        if r < r_final:
            # the proposer is silent: every node times out on propose and
            # prevotes nil, then waits out the round
            for v in range(n):
                w.timeout(v, t + jit(5_000), h, r, "propose", "3s")
            t += 3_000_000
            for v in range(n):
                w.entering_step(v, t + jit(10_000), h, r, "prevote")
                w.timeout(v, t + 20_000 + jit(5_000), h, r, "prevote", "1s")
            t += 1_000_000
            continue
        for b in range(n):
            if b == proposer:
                continue
            sent = t + jit(3_000)
            rx = w.send(proposer, b, sent, DATA, "proposal", vote_type="proposal", height=h, round=r,
                        pol_round=-1, bid_hash=bid.lower(), ps_total=BLOCK_PARTS,
                        ps_hash=ps.lower(), msg_ts=_ts(sent), signature="ab" * 8)
            for part in range(BLOCK_PARTS):
                rx = max(rx, w.send(proposer, b, sent + 2_000 * (part + 1), DATA, "block_part",
                                    height=h, round=r, part_index=part, part_bytes=f"{h % 256:02x}" * 32))
            w.received_proposal(b, rx + 300, h, r, bid, ps, proposer)
            w.complete_block(b, rx + 3_000, h, bid)
        t += 450_000
        signers: list[int] = []
        for phase in ("prevote", "precommit"):
            for v in range(n):
                w.entering_step(v, t + jit(10_000), h, r, phase)
            t += 15_000
            for v in range(n):
                vt = t + jit(30_000)
                for b in range(n):
                    if b == v:
                        continue
                    w.send(v, b, vt, VOTE, "vote", lost=(h, r, phase, v, b) in lost, vote_type=phase,
                           height=h, round=r, bid_hash=bid.lower(), ps_total=BLOCK_PARTS,
                           ps_hash=ps.lower(), msg_ts=_ts(vt), validator_address=w.val_addrs[v].lower(),
                           validator_index=v, signature="cd" * 8)
                if phase == "prevote":
                    # has_vote gossip to the next peer on the ring
                    w.send((v + 1) % n, v, vt + 12_000, STATE, "has_vote", height=h, round=r,
                           vote_type=phase, vote_index=v)
                else:
                    signers.append(v)
            t += 450_000
        for v in range(n):
            w.send(v, (v + 1) % n, t + jit(5_000), STATE, "new_round_step", try_send=True,
                   height=h, round=r, step="commit")
            s = t + 10_000 + jit(20_000)
            w.entering_step(v, s, h, r, "commit")
            w.committed(v, s + 15_000, h, r, bid, proposer, signers)
            w.malformed(v, s + 16_000)
        t += 100_000
    return t


def generate(spec: CorpusSpec, seed: int) -> Corpus:
    """Build the corpus in memory; same (spec, seed) → same lines."""
    w = _Writer(spec, seed)
    n, H = spec.validators, spec.heights
    for v in range(n):
        w.identity(v, 0)
    round1 = set(w.rng.sample(range(1, H + 1), int(round(ROUND1_SHARE * H))))
    votes = [(h, 1 if h in round1 else 0, ph, a, b)
             for h in range(1, H + 1) for ph in ("prevote", "precommit")
             for a in range(n) for b in range(n) if a != b]
    lost = set(w.rng.sample(votes, int(round(LOST_SHARE * len(votes)))))
    t = 50_000
    for h in range(1, H + 1):
        t = _height(w, h, 1 if h in round1 else 0, t, lost)
    return w.c


def write(corpus: Corpus, out_dir: str) -> str:
    """Write one time-sorted ``node<i>.log`` per validator; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for node, entries in corpus.lines.items():
        entries.sort()
        with open(os.path.join(out_dir, f"node{node}.log"), "w") as fh:
            fh.writelines(text + "\n" for _, _, text in entries)
    return out_dir


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--validators", type=int, default=16)
    ap.add_argument("--heights", type=int, default=12)
    a = ap.parse_args(argv)
    c = generate(CorpusSpec(a.validators, a.heights), a.seed)
    write(c, a.out_dir)
    print(json.dumps({"lines": c.total_lines, "events": dict(sorted(c.events.items())),
                      "rejects": dict(sorted(c.rejects.items())), "dropped_lines": c.dropped_lines}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
