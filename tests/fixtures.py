"""Synthetic CometBFT NDJSON log fixtures (FIXTURES.md §B).

Deterministic 4-node consensus scenario mirroring the reference's
example-logs shape: node0 is the anomalous slow node (higher gossip
latency + scheduled timeouts), every file opens with its identity
lines, and the negative-line classes (no _msg, unknown _msg, "with
invalid args", malformed JSON, parsed-but-dropped types) are present.

The generator returns expected-count bookkeeping so tests can assert
the ETL's drop/convert behavior exactly.
"""

from __future__ import annotations

import base64
import json
import os
from collections import Counter
from datetime import datetime, timedelta, timezone

from cometbft_log_etl_spark.functions.protowire import encode_message

N_NODES = 4
NODE_IDS = [f"{i:02d}" * 20 for i in range(N_NODES)]  # 40-hex node ids
VAL_ADDRS = [f"{i + 10:02X}" * 20 for i in range(N_NODES)]
PEER_ADDR = [f"10.0.0.{i + 1}:26656" for i in range(N_NODES)]

BASE = datetime(2025, 6, 1, 12, 0, 0, tzinfo=timezone.utc)

# Per-link one-way latency: node0's links are slow (cf. the reference's
# node0-has-long-duration-config scenario).
def link_latency_ms(a: int, b: int) -> int:
    return 350 if 0 in (a, b) else 80


def _ts(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f") + "000Z"  # RFC3339Nano, 9 digits


def _fmt_step(step: str) -> str:
    return "RoundStep" + step[0].upper() + step[1:]


class Scenario:
    def __init__(self):
        self.lines: dict[int, list[tuple[datetime, str]]] = {i: [] for i in range(N_NODES)}
        self.expected = Counter()  # event_type -> count after ETL

    def log(self, node: int, t: datetime, obj: dict, msg: str):
        obj = {"_msg": msg, "ts": _ts(t), "module": "consensus", "level": "info", **obj}
        self.lines[node].append((t, json.dumps(obj)))

    def raw_line(self, node: int, t: datetime, text: str):
        self.lines[node].append((t, text))

    # --- emitters -------------------------------------------------------

    def identity(self, node: int, t: datetime):
        self.log(node, t, {"ID": NODE_IDS[node], "file": f"/data/node{node}/node_key.json"}, "P2P Node ID")
        self.log(
            node,
            t + timedelta(milliseconds=1),
            {"addr": VAL_ADDRS[node], "pubKey": "cGsK"},
            "This node is a validator",
        )

    def new_round(self, node: int, t: datetime, h: int, r: int, proposer: int):
        prev = f"{h - 1}/{r}/{_fmt_step('commit')}" if h > 1 else f"1/0/{_fmt_step('newHeight')}"
        self.log(
            node,
            t,
            {
                "current": f"{h}/{r}/{_fmt_step('newRound')}",
                "previous": prev,
                "proposer": VAL_ADDRS[proposer][:12],
                "height": h,
                "round": r,
            },
            "Entering new round",
        )
        self.expected["entering_new_round"] += 1

    def propose_step(self, node: int, t: datetime, h: int, r: int, proposer: int):
        msg = (
            "Propose step; our turn to propose"
            if node == proposer
            else "Propose step; not our turn to propose"
        )
        self.log(node, t, {"height": h, "round": r, "proposer": VAL_ADDRS[proposer][:12]}, msg)
        self.expected["propose_step"] += 1

    def entering_step(self, node: int, t: datetime, h: int, r: int, step: str):
        # step ∈ propose|prevote|prevote_wait|precommit|precommit_wait|commit
        spaced = step.replace("_", " ")
        msg = f"Entering {spaced} step"
        camel = "".join(w.capitalize() for w in step.split("_"))
        self.log(node, t, {"current": f"{h}/{r}/RoundStep{camel}", "height": h, "round": r}, msg)
        if step != "propose":
            # wait-step collapse quirk: prevote_wait → entering_prevote_step
            base = step.split("_")[0]
            self.expected[f"entering_{base}_step"] += 1

    def send(self, sender: int, receiver: int, t: datetime, channel: int, kind: str, *, try_send=False, lost=False, **kw):
        payload = encode_message(kind, **kw)
        tag = "TrySend" if try_send else "Send"
        self.log(
            sender,
            t,
            {
                "channel": channel,
                "conn": f"MConn{{{PEER_ADDR[receiver]}}}",
                "msgBytes": payload.hex().upper(),
                "peer": f"{NODE_IDS[receiver]}@{PEER_ADDR[receiver]}",
            },
            tag,
        )
        self.expected[f"send_{kind}"] += 1
        if not lost:
            dt = timedelta(milliseconds=link_latency_ms(sender, receiver))
            self.log(
                receiver,
                t + dt,
                {
                    "chID": channel,
                    "msgBytes": base64.b64encode(payload).decode(),
                    "peer": f"{NODE_IDS[sender]}@{PEER_ADDR[sender]}",
                },
                "Received bytes",
            )
            self.expected[f"receive_packet_{kind}"] += 1

    def received_proposal(self, node: int, t: datetime, h: int, r: int, bid_hash: str, ps_hash: str, proposer: int):
        s = (
            f"Proposal{{{h}/{r} ({bid_hash}:1:{ps_hash}, -1) ABCDEF012345 @ "
            f"{BASE.strftime('%Y-%m-%dT%H:%M:%S')}.000000000Z}}"
        )
        self.log(node, t, {"proposal": s, "proposer": VAL_ADDRS[proposer][:12]}, "Received proposal")
        self.expected["received_proposal"] += 1

    def complete_block(self, node: int, t: datetime, h: int, bid_hash: str):
        self.log(node, t, {"hash": bid_hash, "height": h}, "Received complete proposal block")
        self.expected["received_complete_proposal_block"] += 1

    def committed(self, node: int, t: datetime, h: int, bid_hash: str):
        from cometbft_log_etl_spark.functions.blocktext import render_block

        block = {
            "header": {
                "version": {"block": 11, "app": 0},
                "chain_id": "test-chain",
                "height": h,
                "time": t.replace(tzinfo=timezone.utc),
                "last_block_id": {
                    "hash": f"{h - 1:02X}" * 6 if h > 1 else "00" * 6,
                    "part_set_header": {"total": 1, "hash": "AB" * 6},
                },
                "last_commit_hash": "C1" * 6, "data_hash": "D2" * 6,
                "validators_hash": "E3" * 6, "next_validators_hash": "E4" * 6,
                "app_hash": "A5" * 6, "consensus_hash": "C6" * 6,
                "last_results_hash": "F7" * 6, "evidence_hash": "E8" * 6,
                "proposer_address": VAL_ADDRS[(h - 1) % N_NODES][:12],
            },
            "data": {"txs": ["DEADBEEF"] if h % 2 == 0 else []},
            "last_commit": {
                "height": h - 1,
                "round": 0,
                "block_id": {
                    "hash": f"{h - 1:02X}" * 6 if h > 1 else "00" * 6,
                    "part_set_header": {"total": 1, "hash": "AB" * 6},
                },
                "signatures": [
                    {
                        "block_id_flag": 2,
                        "validator_address": VAL_ADDRS[v],
                        "timestamp": t.replace(tzinfo=timezone.utc),
                        "signature": "5A" * 6,
                    }
                    for v in range(N_NODES)
                ],
            },
        }
        self.log(node, t, {"block": render_block(block, bid_hash), "height": h}, "Committed block")
        self.expected["committed_block"] += 1

    def timeout(self, node: int, t: datetime, h: int, r: int, step: str, dur: str):
        self.log(node, t, {"dur": dur, "height": h, "round": r, "step": step}, "Scheduled timeout")
        self.expected["scheduled_timeout"] += 1


def build_scenario(heights: int = 8) -> Scenario:
    sc = Scenario()
    t = BASE
    for n in range(N_NODES):
        sc.identity(n, t)
    t += timedelta(milliseconds=50)

    for h in range(1, heights + 1):
        proposer = (h - 1) % N_NODES
        bid_hash = f"{h:02X}" * 6  # 12-hex uppercase
        ps_hash = f"{h + 64:02X}" * 6
        # round start on every node (node0 lags)
        for n in range(N_NODES):
            lag = timedelta(milliseconds=300 if n == 0 else 10 * n)
            sc.new_round(n, t + lag, h, 0, proposer)
            sc.entering_step(n, t + lag + timedelta(milliseconds=2), h, 0, "propose")  # dropped
            sc.propose_step(n, t + lag + timedelta(milliseconds=3), h, 0, proposer)
        t += timedelta(milliseconds=40)

        # proposer gossips proposal + one block part on the data channel
        for peer in range(N_NODES):
            if peer == proposer:
                continue
            sc.send(
                proposer,
                peer,
                t,
                0x21,
                "proposal",
                vote_type="proposal",
                height=h,
                round=0,
                pol_round=-1,
                bid_hash=bid_hash.lower(),
                ps_total=1,
                ps_hash=ps_hash.lower(),
                msg_ts=_ts(t),
                signature="ab" * 8,
            )
            sc.send(
                proposer,
                peer,
                t + timedelta(milliseconds=5),
                0x21,
                "block_part",
                height=h,
                round=0,
                part_index=0,
                part_bytes=f"{h:02x}" * 16,
            )
        t += timedelta(milliseconds=30)

        for n in range(N_NODES):
            if n != proposer:
                dt = timedelta(milliseconds=link_latency_ms(proposer, n) + 20)
                sc.received_proposal(n, t + dt, h, 0, bid_hash, ps_hash, proposer)
                sc.complete_block(n, t + dt + timedelta(milliseconds=8), h, bid_hash)
        t += timedelta(milliseconds=60)

        # prevote phase: everyone enters prevote, sends prevote to every peer
        for phase, channel in (("prevote", 0x22), ("precommit", 0x22)):
            for n in range(N_NODES):
                lag = timedelta(milliseconds=250 if n == 0 else 5 * n)
                sc.entering_step(n, t + lag, h, 0, phase)
                # wait-step line for flavor at one node (collapses to base)
                if n == 1 and phase == "prevote" and h % 3 == 0:
                    sc.entering_step(n, t + lag + timedelta(milliseconds=1), h, 0, "prevote_wait")
            t += timedelta(milliseconds=20)
            for n in range(N_NODES):
                vote_t = t + timedelta(milliseconds=300 if n == 0 else 8 * n)
                for peer in range(N_NODES):
                    if peer == n:
                        continue
                    # one lost vote per height (unmatched send)
                    lost = peer == 3 and n == 2 and phase == "precommit"
                    sc.send(
                        n,
                        peer,
                        vote_t,
                        channel,
                        "vote",
                        vote_type=phase,
                        height=h,
                        round=0,
                        bid_hash=bid_hash.lower(),
                        ps_total=1,
                        ps_hash=ps_hash.lower(),
                        msg_ts=_ts(vote_t),
                        validator_address=VAL_ADDRS[n].lower(),
                        validator_index=n,
                        signature="cd" * 8,
                        lost=lost,
                    )
                    # has_vote gossip on state channel from receiver side
                    if phase == "prevote" and peer == (n + 1) % N_NODES:
                        sc.send(
                            peer,
                            n,
                            vote_t + timedelta(milliseconds=12),
                            0x20,
                            "has_vote",
                            height=h,
                            round=0,
                            vote_type=phase,
                            vote_index=n,
                        )
            t += timedelta(milliseconds=50)

        # node1 TrySends a round-step gossip to node2: TrySend logs carry
        # no peer id, so this exercises the raw-hash fallback match tier
        sc.send(
            1,
            2,
            t + timedelta(milliseconds=2),
            0x20,
            "new_round_step",
            try_send=True,
            height=h,
            round=0,
            step="newRound",
        )

        # node0 struggles on some heights → timeouts (clustered)
        if h % 2 == 0:
            for k in range(3):
                sc.timeout(
                    0,
                    t + timedelta(milliseconds=100 * k),
                    h,
                    0,
                    ["propose", "prevote", "precommit"][k],
                    ["3s", "1s", "800ms"][k],
                )

        for n in range(N_NODES):
            lag = timedelta(milliseconds=280 if n == 0 else 6 * n)
            sc.entering_step(n, t + lag, h, 0, "commit")
            sc.committed(n, t + lag + timedelta(milliseconds=15), h, bid_hash)
        t += timedelta(milliseconds=100)

    # negative lines (all silently dropped)
    sc.raw_line(1, t, json.dumps({"ts": _ts(t), "level": "info", "msg_without_tag": True}))
    sc.raw_line(1, t, json.dumps({"_msg": "Some unknown message", "ts": _ts(t)}))
    sc.raw_line(
        1, t, json.dumps({"_msg": "Entering prevote step with invalid args", "current": "x", "ts": _ts(t)})
    )
    sc.raw_line(2, t, "this is not json at all {{{")
    # parsed-but-dropped types (§2.3 drop-list)
    sc.log(2, t, {"cs_height": 5, "val_index": 1, "vote_height": 5, "vote_type": "prevote"}, "Adding vote")
    sc.log(2, t, {"chId": 0x22, "msg": "m", "src": ""}, "Receive")
    sc.log(3, t, {"height": 5, "round": 0, "proposal": "cHJvcA=="}, "Signed proposal")
    sc.log(3, t, {"hash": "AA", "height": 5, "num_txs": 0, "root": "BB"}, "Finalizing commit of block")
    return sc


def write_logs(sc: Scenario, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for n, entries in sc.lines.items():
        entries.sort(key=lambda e: e[0])
        with open(os.path.join(out_dir, f"node{n}.log"), "w") as f:
            for _, line in entries:
                f.write(line + "\n")
    return out_dir


def plugin_table_names(spark, events) -> set[str]:
    """Names of the tables the default-enabled plugins emit over
    ``events`` (plans are built, not run; the intermediates they pin
    are released again)."""
    from cometbft_log_etl_spark.plans.registry import run_plugins
    from cometbft_log_etl_spark.session import persistent_rdd_ids, release_new_persists

    before = persistent_rdd_ids(spark)
    names = set(run_plugins(events))
    release_new_persists(spark, before)
    return names
