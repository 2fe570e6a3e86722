"""Seeded block feeds for the ``ingest_feed`` workload, with tallies.

Two feeds, both a pure function of the workload seed:

- ``write_block_feed`` writes full blocks in the ``scans.BLOCK`` JSON
  shape (the input of ``cli sync`` / ``ingest.facade.ingest``). Output
  and input addresses are drawn from a Zipf distribution over the
  address pool, so a few hub addresses draw a large share of outputs.
  While writing, the generator keeps the tallies the sink's tables
  must reproduce: rows per table, the satoshi sum over all outputs and
  an order-free hash of the per-address totals.
- ``write_header_feed`` writes block headers in ``BLOCK_FEED_SCHEMA``
  for the streaming daemon (``stream_ingest_blocks``), one file per
  micro-batch. A fixed share ``REORG_SHARE`` of the files re-announce
  heights that an earlier file already delivered, with a new block hash
  and a higher ``ingest_seq``: the daemon must read, merge and rewrite
  the partitions that hold them.

Where the parameters come from:

- The block shape is the one of the repository's committed feed,
  ``fixtures/blocks.jsonl`` (written by ``genfixtures.gen_blocks`` with
  the ``btc`` spec): 1-6 transactions per block, 1-3 inputs per
  non-coinbase transaction, 1-4 outputs per transaction, values of
  10,000-5,000,000,000 satoshi, one block per 600 s with +-60 s jitter
  from the same genesis time, and an address pool of 500 addresses per
  120 blocks. ``tests/test_perfbench.py`` measures the fixture and
  checks these constants against it.
- ``ZIPF_EXPONENT`` is synthetic: the repository holds no on-chain
  address data to fit it to, so the feed uses Zipf's law in its plain
  form, exponent 1, over that pool. ``genfixtures`` draws addresses
  uniformly, which is why it is not reused (it is also byte-pinned to
  the committed fixture).
- ``REORG_SHARE`` is synthetic: a real chain re-announces a height
  rarely, so most runs would see no reorg at all. One header file in
  four re-announces delivered heights, so every run merges and
  rewrites existing partitions the same number of times.
- ``N_BLOCKS``, ``BLOCK_FILES``, ``HEADER_FILES`` and
  ``HEADERS_PER_FILE`` set the size of a pass, chosen to fit the run
  budget (a pass of the workload takes about 23 s on 4 vCPUs).
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

# the committed fixture's block shape (see above)
TX_PER_BLOCK = (1, 6)
INPUTS_PER_TX = (1, 3)
OUTPUTS_PER_TX = (1, 4)
VALUE_SATOSHI = (10_000, 5_000_000_000)
GENESIS_TS = 1_231_006_505
BLOCK_INTERVAL_S = 600
JITTER_S = 60
ADDRESSES_PER_BLOCK = 500 / 120

ZIPF_EXPONENT = 1.0
N_BLOCKS = 1_000
BLOCK_FILES = 8

HEADER_FILES = 24
HEADERS_PER_FILE = 40
REORG_SHARE = 0.25


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def address_totals_hash(totals: dict[str, tuple[int, int]]) -> int:
    """Order-free hash of ``address -> (n_outputs, total_received)``:
    the sum of the first 60 bits of each row's md5 (the row text is
    ``address|n_outputs|total_received``). ``checks.check_sink``
    reduces the sink's ``address_totals`` table to the same number
    inside Spark."""
    return sum(
        int(hashlib.md5(f"{a}|{n}|{v}".encode()).hexdigest()[:15], 16)
        for a, (n, v) in totals.items()
    )


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def write_block_feed(out_dir: str, seed: int, n_blocks: int = N_BLOCKS) -> dict:
    """Write the sync feed as ``BLOCK_FILES`` JSONL files; return tallies."""
    rng = np.random.default_rng([seed, 1])
    n_addresses = round(ADDRESSES_PER_BLOCK * n_blocks)
    weights = _zipf_weights(n_addresses, ZIPF_EXPONENT)
    # a seeded permutation keeps the hubs off the lowest address ids
    names = np.array([f"addr{i:06d}" for i in rng.permutation(n_addresses)])
    n_tx = rng.integers(TX_PER_BLOCK[0], TX_PER_BLOCK[1] + 1, n_blocks)
    n_in = rng.integers(INPUTS_PER_TX[0], INPUTS_PER_TX[1] + 1, int(n_tx.sum()))
    n_out = rng.integers(OUTPUTS_PER_TX[0], OUTPUTS_PER_TX[1] + 1, int(n_tx.sum()))
    n_addr = int(n_in.sum() + n_out.sum())
    addrs = names[rng.choice(n_addresses, n_addr, p=weights)]
    values = rng.integers(VALUE_SATOSHI[0], VALUE_SATOSHI[1] + 1, n_addr)
    jitter = rng.integers(-JITTER_S, JITTER_S + 1, n_blocks)

    os.makedirs(out_dir, exist_ok=True)
    files = [
        open(os.path.join(out_dir, f"blocks-{i:02d}.jsonl"), "w")
        for i in range(BLOCK_FILES)
    ]
    totals: dict[str, tuple[int, int]] = {}
    n_transactions = n_outputs = value_sum = 0
    k = t = 0  # cursors into addrs/values and the per-tx arrays
    try:
        for h in range(n_blocks):
            txs = []
            for i in range(int(n_tx[h])):
                coinbase = i == 0
                ins = []
                if not coinbase:
                    for _ in range(int(n_in[t])):
                        ins.append({"address": [str(addrs[k])], "value": int(values[k])})
                        k += 1
                outs = []
                for _ in range(int(n_out[t])):
                    a, v = str(addrs[k]), int(values[k])
                    k += 1
                    outs.append({"address": [a], "value": v})
                    n, s = totals.get(a, (0, 0))
                    totals[a] = (n + 1, s + v)
                    value_sum += v
                t += 1
                n_outputs += len(outs)
                txs.append(
                    {
                        "tx_hash": _sha(f"{seed}-tx-{h}-{i}"),
                        "coinbase": coinbase,
                        "total_input": sum(x["value"] for x in ins),
                        "total_output": sum(x["value"] for x in outs),
                        "inputs": ins,
                        "outputs": outs,
                    }
                )
            n_transactions += len(txs)
            block = {
                "height": h,
                "block_hash": _sha(f"{seed}-block-{h}"),
                "timestamp": GENESIS_TS + h * BLOCK_INTERVAL_S + int(jitter[h]),
                "no_transactions": len(txs),
                "txs": txs,
            }
            files[h % BLOCK_FILES].write(json.dumps(block, sort_keys=True) + "\n")
    finally:
        for fh in files:
            fh.close()
    return {
        "rows": {
            "block": n_blocks,
            "transaction": n_transactions,
            "tx_output": n_outputs,
            "address_totals": len(totals),
            "summary_statistics": 1,
        },
        "value_satoshi": value_sum,
        "address_totals_hash": address_totals_hash(totals),
        "json_bytes": sum(
            os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir)
        ),
    }


def write_header_feed(out_dir: str, seed: int) -> dict:
    """Write ``HEADER_FILES`` header files (one micro-batch each)."""
    rng = np.random.default_rng([seed, 2])
    # exactly the share, at seeded positions; the first batch has nothing
    # to re-announce
    reorg = np.zeros(HEADER_FILES, dtype=bool)
    n_reorg = round(REORG_SHARE * HEADER_FILES)
    reorg[1 + rng.choice(HEADER_FILES - 1, n_reorg, replace=False)] = True
    os.makedirs(out_dir, exist_ok=True)
    tip = seq = 0
    mtime0 = 1_700_000_000
    for j in range(HEADER_FILES):
        if reorg[j]:
            depth = int(rng.integers(1, tip + 1))
            first = tip - depth
            heights = range(first, min(first + HEADERS_PER_FILE, tip))
        else:
            heights = range(tip, tip + HEADERS_PER_FILE)
            tip += HEADERS_PER_FILE
        path = os.path.join(out_dir, f"headers-{j:03d}.json")
        with open(path, "w") as fh:
            for h in heights:
                seq += 1
                row = {
                    "height": h,
                    "block_hash": _sha(f"{seed}-hdr-{h}-{seq}"),
                    "timestamp": GENESIS_TS + h * BLOCK_INTERVAL_S,
                    "no_transactions": int(rng.integers(TX_PER_BLOCK[0], TX_PER_BLOCK[1] + 1)),
                    "ingest_seq": seq,
                }
                fh.write(json.dumps(row, sort_keys=True) + "\n")
        # distinct mtimes: the file source delivers files oldest first
        os.utime(path, (mtime0 + j, mtime0 + j))
    return {
        "files": HEADER_FILES,
        "headers": seq,
        "heights": tip,
        "reorg_files": int(reorg.sum()),
    }
