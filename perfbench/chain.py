"""Deterministic synthetic EVM chain: the benchmark's inputs and its oracle.

One seed gives one chain. The chain node (``node.py``) serves it over
JSON-RPC and the benchmark derives every expected answer from the same
generator, never from the program under test.

Logs use the real ABI layout of the archive's default views
(``fixtures.TOPIC_*``): Transfer and Approval carry two indexed addresses
and one data word, Deposit two indexed addresses and two words, Withdraw
three indexed addresses and two words. A share of logs carries a topic0
that matches no view (Uniswap-V2 ``Sync``). Addresses are drawn from a
Zipf law, so some keys are hot and most are cold.

Reorgs: from ``reorg_from`` on, a small share of logs is re-delivered
``reorg_depth`` blocks later with ``removed=true`` and the same primary key,
the way a node reports a reorged-out log on a later poll. Blocks before
``reorg_from`` are finalized history and never see a re-delivery.
"""

from __future__ import annotations

import hashlib
import random
from bisect import bisect_left
from dataclasses import dataclass

from evm_archive_spark.fixtures import (
    TOPIC_APPROVAL,
    TOPIC_DEPOSIT,
    TOPIC_TRANSFER,
    TOPIC_WITHDRAW,
)

# keccak("Sync(uint112,uint112)"): a common log no default view decodes
TOPIC_SYNC = "0x1c411e9a96e071241c2f21f7726b17ae89e3cab4c78be50e062b03a9fffbbad1"

# (kind, topic0, share of logs)
KINDS = (
    ("Transfer", TOPIC_TRANSFER, 0.40),
    ("Approval", TOPIC_APPROVAL, 0.20),
    ("Deposit", TOPIC_DEPOSIT, 0.12),
    ("Withdraw", TOPIC_WITHDRAW, 0.08),
    ("Sync", TOPIC_SYNC, 0.20),
)
TOPIC_OF = {k: t for k, t, _ in KINDS}

N_ADDRESSES = 4096
N_CONTRACTS = 64
ZIPF_S = 1.1
HOT_RANKS = 8  # ranks [0, HOT_RANKS) are the hot keys
COLD_FROM = 512  # ranks [COLD_FROM, N_ADDRESSES) are the cold keys


@dataclass(frozen=True)
class ChainSpec:
    seed: int
    blocks: int  # blocks 0 .. blocks-1
    logs_per_block: int = 10
    reorg_from: int | None = None  # None: no re-deliveries at all
    reorg_share: float = 0.02
    reorg_depth: int = 3


@dataclass(frozen=True)
class Log:
    block: int
    log_index: int
    tx_index: int
    kind: str
    contract: str
    topics: tuple  # 4 entries, '' where absent (the sink's shape)
    data: str
    tx_hash: str
    block_hash: str

    @property
    def pk(self) -> tuple:
        return (self.block_hash, self.tx_hash, self.log_index)

    def word(self, i: int) -> int:
        return int(self.data[2 + 64 * i: 2 + 64 * (i + 1)], 16)

    def topic_addr(self, i: int) -> str:
        return "0x" + self.topics[i][-40:]


def _hex_words(*vals: int) -> str:
    return "0x" + "".join(format(v, "064x") for v in vals)


def _topic(addr: str) -> str:
    return "0x" + "0" * 24 + addr[2:]


def _zipf_cum(n: int) -> list[float]:
    acc, out = 0.0, []
    for r in range(n):
        acc += 1.0 / (r + 1) ** ZIPF_S
        out.append(acc)
    return out


def _h(*parts) -> str:
    return hashlib.sha256("|".join(map(str, parts)).encode()).hexdigest()


class Chain:
    """All logs of one seeded chain, plus where each tombstone is delivered."""

    def __init__(self, spec: ChainSpec):
        self.spec = spec
        rng = random.Random(spec.seed)
        self.addresses = ["0x" + _h(spec.seed, "addr", i)[:40] for i in range(N_ADDRESSES)]
        self.contracts = ["0x" + _h(spec.seed, "contract", i)[:40] for i in range(N_CONTRACTS)]
        addr_cum, con_cum = _zipf_cum(N_ADDRESSES), _zipf_cum(N_CONTRACTS)
        addr_tot, con_tot = addr_cum[-1], con_cum[-1]
        kind_cum, acc = [], 0.0
        for _, _, share in KINDS:
            acc += share
            kind_cum.append(acc)

        def pick(pool, cum, tot):
            return pool[min(bisect_left(cum, rng.random() * tot), len(pool) - 1)]

        def addr():
            return pick(self.addresses, addr_cum, addr_tot)

        self.logs: list[Log] = []
        self.by_block: list[list[Log]] = []
        # block -> logs re-delivered there with removed=true
        self.tombstones_at: dict[int, list[Log]] = {}
        for b in range(spec.blocks):
            bh = "0x" + _h(spec.seed, "block", b)
            block_logs = []
            for i in range(spec.logs_per_block):
                kind = KINDS[min(bisect_left(kind_cum, rng.random() * acc), len(KINDS) - 1)][0]
                if kind in ("Transfer", "Approval"):
                    topics = (TOPIC_OF[kind], _topic(addr()), _topic(addr()), "")
                    data = _hex_words(rng.randrange(1, 10**24))
                elif kind == "Deposit":
                    topics = (TOPIC_OF[kind], _topic(addr()), _topic(addr()), "")
                    data = _hex_words(rng.randrange(1, 10**24), rng.randrange(1, 10**24))
                elif kind == "Withdraw":
                    topics = (TOPIC_OF[kind], _topic(addr()), _topic(addr()), _topic(addr()))
                    data = _hex_words(rng.randrange(1, 10**24), rng.randrange(1, 10**24))
                else:
                    topics = (TOPIC_SYNC, "", "", "")
                    data = _hex_words(rng.randrange(1, 2**112), rng.randrange(1, 2**112))
                log = Log(
                    block=b,
                    log_index=i,
                    tx_index=i // 2,
                    kind=kind,
                    contract=pick(self.contracts, con_cum, con_tot),
                    topics=topics,
                    data=data,
                    tx_hash="0x%064x" % ((spec.seed % 2**64) << 128 | b << 32 | i // 2),
                    block_hash=bh,
                )
                block_logs.append(log)
                at = b + spec.reorg_depth
                if (
                    spec.reorg_from is not None
                    and b >= spec.reorg_from
                    and at < spec.blocks
                    and rng.random() < spec.reorg_share
                ):
                    self.tombstones_at.setdefault(at, []).append(log)
            self.by_block.append(block_logs)
            self.logs.extend(block_logs)

    # -- wire shape (what eth_getLogs returns) ------------------------------

    @staticmethod
    def wire(log: Log, removed: bool = False) -> dict:
        return {
            "address": log.contract,
            "topics": [t for t in log.topics if t],
            "data": log.data,
            "blockHash": log.block_hash,
            "blockNumber": hex(log.block),
            "transactionHash": log.tx_hash,
            "transactionIndex": hex(log.tx_index),
            "logIndex": hex(log.log_index),
            "removed": removed,
        }

    def block_payload(self, b: int) -> list[dict]:
        """Everything eth_getLogs returns for block ``b``: its own logs,
        then the tombstones the node delivers with it."""
        return [self.wire(lg) for lg in self.by_block[b]] + [
            self.wire(lg, removed=True) for lg in self.tombstones_at.get(b, ())
        ]

    # -- oracle ------------------------------------------------------------

    def delivered_rows(self, lo: int, hi: int) -> list[tuple]:
        """(block_number, log_index, removed) of every row eth_getLogs
        delivers for blocks [lo, hi], tombstones included."""
        out = []
        for b in range(lo, hi + 1):
            out += [(lg.block, lg.log_index, False) for lg in self.by_block[b]]
            out += [(lg.block, lg.log_index, True) for lg in self.tombstones_at.get(b, ())]
        return out

    def live_logs(self, hi: int, lo: int = 0) -> list[Log]:
        """The reorg-resolved archive after ingesting blocks [lo, hi]: every
        log of those blocks whose tombstone was not delivered by ``hi``."""
        dead = {
            lg.pk for at, logs in self.tombstones_at.items() if lo <= at <= hi for lg in logs
        }
        return [lg for b in range(lo, hi + 1) for lg in self.by_block[b] if lg.pk not in dead]

    def hot_address(self, rng: random.Random) -> str:
        return self.addresses[rng.randrange(HOT_RANKS)]

    def cold_address(self, rng: random.Random) -> str:
        return self.addresses[rng.randrange(COLD_FROM, N_ADDRESSES)]
