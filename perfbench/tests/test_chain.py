"""The chain generator and node payloads are a pure function of the seed."""

import json

from perfbench.chain import KINDS, Chain, ChainSpec
from perfbench.node import Node


def _dump(chain: Chain) -> str:
    return json.dumps([chain.block_payload(b) for b in range(chain.spec.blocks)])


def test_same_seed_same_chain():
    spec = ChainSpec(seed=11, blocks=40, logs_per_block=6, reorg_from=10)
    assert _dump(Chain(spec)) == _dump(Chain(spec))


def test_other_seed_other_chain():
    a = Chain(ChainSpec(seed=1, blocks=20, logs_per_block=5))
    b = Chain(ChainSpec(seed=2, blocks=20, logs_per_block=5))
    assert _dump(a) != _dump(b)


def test_shape_and_mix():
    chain = Chain(ChainSpec(seed=3, blocks=300, logs_per_block=10))
    assert len(chain.logs) == 3000
    assert len({lg.pk for lg in chain.logs}) == 3000
    seen = {lg.kind for lg in chain.logs}
    assert seen == {k for k, _, _ in KINDS}
    for lg in chain.logs:
        assert len(lg.topics) == 4 and lg.topics[0].startswith("0x")
        assert (len(lg.data) - 2) % 64 == 0
    # Zipf-skewed keys: the hottest address is far above the mean
    to = [lg.topic_addr(2) for lg in chain.logs if lg.kind == "Transfer"]
    top = max(to.count(a) for a in set(to))
    assert top > 10 * len(to) / len(set(to))


def test_reorgs_only_after_reorg_from_and_later():
    spec = ChainSpec(seed=5, blocks=200, logs_per_block=10, reorg_from=100, reorg_share=0.2)
    chain = Chain(spec)
    assert chain.tombstones_at
    for at, logs in chain.tombstones_at.items():
        for lg in logs:
            assert lg.block >= 100 and at == lg.block + spec.reorg_depth
    assert not Chain(ChainSpec(seed=5, blocks=200, logs_per_block=10)).tombstones_at


def test_node_serves_block_payloads():
    chain = Chain(ChainSpec(seed=9, blocks=30, logs_per_block=4, reorg_from=0, reorg_share=0.3))
    node = Node(chain)
    got = json.loads(node.call("eth_getLogs", [{"fromBlock": hex(5), "toBlock": hex(12)}]))
    want = [w for b in range(5, 13) for w in chain.block_payload(b)]
    assert got == want
    assert json.loads(node.call("eth_blockNumber", [])) == hex(29)
    node.fixed_head = 7
    got = json.loads(node.call("eth_getLogs", [{"fromBlock": hex(5), "toBlock": hex(12)}]))
    assert got == [w for b in range(5, 8) for w in chain.block_payload(b)]
    assert json.loads(node.call("bench_head", [])) == 7  # the benchmark's own read: not counted
    stats = json.loads(node.call("bench_stats", [True]))
    assert stats["get_logs_calls"] == 2 and stats["block_number_calls"] == 1


def test_node_clock_starts_and_stops():
    node = Node(Chain(ChainSpec(seed=4, blocks=1000, logs_per_block=2)))
    node.fixed_head = 0
    json.loads(node.call("bench_startClock", [1e6, 10]))
    assert int(json.loads(node.call("eth_blockNumber", [])), 16) > 10
    head = json.loads(node.call("bench_stopClock", []))
    assert 10 < head <= 999
    assert int(json.loads(node.call("eth_blockNumber", [])), 16) == head
