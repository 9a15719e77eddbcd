"""GraphQL queries of the read-path probe and their expected answers.

Four kinds, all over the reorg-resolved archive and its decode views:

- ``point``: Transfers to one address, a hot and a cold key in turn,
  first rows by block and log index;
- ``topn``: the largest decoded amounts of one event view;
- ``count``: ``totalCount`` of all logs with one topic0;
- ``raw``: every log of one block, from ``allLogs``.

Expected answers come from ``chain.Chain.live_logs``, never from the
program.
"""

from __future__ import annotations

import json
import random
import urllib.request
from collections import defaultdict

from evm_archive_spark.views import DEFAULT_EVENTS

from .chain import KINDS, Chain, Log

KIND_NAMES = ("point", "topn", "count", "raw")
EVENTS = ("Transfer", "Approval", "Deposit", "Withdraw")  # the views served
VIEW_NAME = {s.name: s.view_name for s in DEFAULT_EVENTS}
# (event, decoded column, data word) ranked by topn
TOPN_COLUMNS = (("Transfer", "amount", 0), ("Approval", "amount", 0),
                ("Deposit", "assets", 0), ("Withdraw", "shares", 1))
POINT_FIRST = 10
TOPN_FIRST = 10
RAW_FIELDS = ("address", "topic0", "topic1", "topic2", "topic3", "data", "blockHash",
              "transactionHash", "transactionIndex", "logIndex", "removed")


class Oracle:
    """Indexes of the archive's logical content after blocks [lo, hi]."""

    def __init__(self, chain: Chain, hi: int, lo: int = 0):
        self.chain, self.lo, self.hi = chain, lo, hi
        live = chain.live_logs(hi, lo)
        self.count_by_topic: dict[str, int] = defaultdict(int)
        self.by_block: dict[int, list[Log]] = defaultdict(list)
        self.transfers_to: dict[str, list[Log]] = defaultdict(list)
        by_kind: dict[str, list[Log]] = defaultdict(list)
        for lg in live:  # live_logs is in (block, log_index) order
            self.count_by_topic[lg.topics[0]] += 1
            self.by_block[lg.block].append(lg)
            by_kind[lg.kind].append(lg)
            if lg.kind == "Transfer":
                self.transfers_to[lg.topic_addr(2)].append(lg)
        self.ranked = {
            (ev, col): sorted(by_kind[ev], key=lambda lg, w=word: (-lg.word(w), lg.block, lg.log_index))
            for ev, col, word in TOPN_COLUMNS
        }

    def make(self, kind: str, rng: random.Random, cycle: int = 0) -> tuple[str, dict]:
        """(GraphQL document, expected ``data``) for one query of ``kind``;
        ``point`` alternates a hot and a cold key with ``cycle``."""
        if kind == "point":
            to = self.chain.hot_address(rng) if cycle % 2 == 0 else self.chain.cold_address(rng)
            field = VIEW_NAME["Transfer"]
            doc = (f'{{ {field}(condition: {{to: "{to}"}}, '
                   f"orderBy: [EVT_BLOCK_NUMBER_ASC, EVT_INDEX_ASC], first: {POINT_FIRST}) "
                   "{ nodes { from to amount contractAddress evtTxHash evtIndex evtBlockNumber } } }")
            rows = [{"from": lg.topic_addr(1), "to": lg.topic_addr(2), "amount": str(lg.word(0)),
                     "contractAddress": lg.contract, "evtTxHash": lg.tx_hash,
                     "evtIndex": lg.log_index, "evtBlockNumber": lg.block}
                    for lg in self.transfers_to.get(to, [])[:POINT_FIRST]]
            return doc, {field: {"nodes": rows}}
        if kind == "topn":
            ev, col, word = TOPN_COLUMNS[rng.randrange(len(TOPN_COLUMNS))]
            field = VIEW_NAME[ev]
            doc = (f"{{ {field}(orderBy: [{col.upper()}_DESC, EVT_BLOCK_NUMBER_ASC, EVT_INDEX_ASC], "
                   f"first: {TOPN_FIRST}) {{ nodes {{ {col} evtBlockNumber evtIndex contractAddress }} }} }}")
            rows = [{col: str(lg.word(word)), "evtBlockNumber": lg.block, "evtIndex": lg.log_index,
                     "contractAddress": lg.contract} for lg in self.ranked[(ev, col)][:TOPN_FIRST]]
            return doc, {field: {"nodes": rows}}
        if kind == "count":
            topic = KINDS[rng.randrange(len(KINDS))][1]
            doc = f'{{ allLogs(condition: {{topic0: "{topic}"}}) {{ totalCount }} }}'
            return doc, {"allLogs": {"totalCount": self.count_by_topic.get(topic, 0)}}
        if kind == "raw":
            block = rng.randrange(self.lo, self.hi + 1)
            doc = (f"{{ allLogs(condition: {{blockNumber: {block}}}, orderBy: [LOG_INDEX_ASC]) "
                   f"{{ nodes {{ {' '.join(RAW_FIELDS)} }} }} }}")
            rows = [{"address": lg.contract, "topic0": lg.topics[0], "topic1": lg.topics[1],
                     "topic2": lg.topics[2], "topic3": lg.topics[3], "data": lg.data,
                     "blockHash": lg.block_hash, "transactionHash": lg.tx_hash,
                     "transactionIndex": lg.tx_index, "logIndex": lg.log_index, "removed": False}
                    for lg in self.by_block.get(block, [])]
            return doc, {"allLogs": {"nodes": rows}}
        raise ValueError(f"unknown query kind {kind!r}")


def post(url: str, doc: str) -> dict:
    """One GraphQL request over HTTP; returns the decoded response."""
    req = urllib.request.Request(url, data=json.dumps({"query": doc}).encode(),
                                 headers={"Content-Type": "application/json"})
    with urllib.request.urlopen(req, timeout=60) as resp:
        return json.loads(resp.read())
