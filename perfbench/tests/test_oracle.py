"""The expected-answer oracle on a tiny seed, against a brute-force reading
of what the node serves (wire payloads, tombstones applied by key)."""

import random
import re

import pytest

from perfbench.chain import TOPIC_OF, Chain, ChainSpec
from perfbench.queries import KIND_NAMES, POINT_FIRST, VIEW_NAME, Oracle

SPEC = ChainSpec(seed=4, blocks=60, logs_per_block=8, reorg_from=20, reorg_share=0.25)
HI = 49  # the archive holds blocks [0, HI]


def _archive():
    """Current-state rows of the archive, straight from the wire."""
    chain = Chain(SPEC)
    rows = [w for b in range(HI + 1) for w in chain.block_payload(b)]
    pk = lambda w: (w["blockHash"], w["transactionHash"], w["logIndex"])  # noqa: E731
    dead = {pk(w) for w in rows if w["removed"]}
    live = [w for w in rows if not w["removed"] and pk(w) not in dead]
    return chain, live, dead


def _word(w, i):
    return int(w["data"][2 + 64 * i: 66 + 64 * i], 16)


def test_tombstones_resolve():
    chain, live, dead = _archive()
    assert dead, "the tiny seed must exercise reorg resolution"
    oracle = Oracle(chain, HI)
    assert sum(oracle.count_by_topic.values()) == len(live)
    # a tombstone delivered after HI does not mask its log yet
    late = [lg for at, logs in chain.tombstones_at.items() if at > HI for lg in logs]
    live_pks = {lg.pk for lg in chain.live_logs(HI)}
    assert all(lg.pk in live_pks for lg in late if lg.block <= HI)


@pytest.mark.parametrize("draw", range(12))
def test_answers_match_brute_force(draw):
    chain, live, _ = _archive()
    oracle = Oracle(chain, HI)
    rng = random.Random(draw)
    for kind in KIND_NAMES:
        doc, expected = oracle.make(kind, rng, draw)
        if kind == "point":
            to = re.search(r'to: "(0x[0-9a-f]{40})"', doc).group(1)
            hits = [w for w in live  # live is in (block, log index) order
                    if w["topics"][0] == TOPIC_OF["Transfer"] and "0x" + w["topics"][2][-40:] == to]
            got = expected[VIEW_NAME["Transfer"]]["nodes"]
            assert len(got) == min(POINT_FIRST, len(hits))
            for node, w in zip(got, hits):
                assert node["amount"] == str(_word(w, 0))
                assert node["evtBlockNumber"] == int(w["blockNumber"], 16)
                assert node["from"] == "0x" + w["topics"][1][-40:]
        elif kind == "topn":
            (field, body), = expected.items()
            col = next(k for k in body["nodes"][0]
                       if k not in ("evtBlockNumber", "evtIndex", "contractAddress"))
            values = [int(n[col]) for n in body["nodes"]]
            assert values == sorted(values, reverse=True)
            assert len(values) == int(re.search(r"first: (\d+)", doc).group(1))
        elif kind == "count":
            topic = re.search(r'topic0: "(0x[0-9a-f]{64})"', doc).group(1)
            assert expected["allLogs"]["totalCount"] == sum(w["topics"][0] == topic for w in live)
        else:
            block = int(re.search(r"blockNumber: (\d+)", doc).group(1))
            want = [w for w in live if int(w["blockNumber"], 16) == block]
            got = expected["allLogs"]["nodes"]
            assert [n["logIndex"] for n in got] == [int(w["logIndex"], 16) for w in want]
            assert [n["data"] for n in got] == [w["data"] for w in want]


def test_topn_matches_brute_force():
    chain, live, _ = _archive()
    oracle = Oracle(chain, HI)
    want = sorted((w for w in live if w["topics"][0] == TOPIC_OF["Deposit"]),
                  key=lambda w: (-_word(w, 0), int(w["blockNumber"], 16), int(w["logIndex"], 16)))
    got = oracle.ranked[("Deposit", "assets")]
    assert [lg.word(0) for lg in got] == [_word(w, 0) for w in want]


def test_block_range_archive():
    chain = Chain(SPEC)
    lo = 30
    oracle = Oracle(chain, HI, lo)
    rng = random.Random(1)
    for _ in range(20):
        doc, expected = oracle.make("raw", rng)
        assert lo <= int(re.search(r"blockNumber: (\d+)", doc).group(1)) <= HI
    counted = sum(oracle.count_by_topic.values())
    assert counted == len(chain.live_logs(HI, lo)) < len(chain.live_logs(HI))
