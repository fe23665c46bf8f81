"""Seeded generator of one day of the Blockchair bitcoin dump feed.

Writes the five daily files ``blockchair_bitcoin_<type>_<YYYYMMDD>.tsv.gz``
(blocks, transactions, inputs, outputs, addresses) plus one malformed
outputs file. Rows come from ``spark.range`` and hash expressions only,
so every value is a pure function of (seed, day, row id); the files are
written in a fixed row order with a fixed gzip header, so the same seed
gives the same bytes whatever the partitioning.

The data keeps the invariants of the unit-test fixture
(``tests/blockchain_fixtures.py``):

- a planted 4-transaction chain ``chain0 -> chain1 -> chain2 -> chain3
  -> chain0`` in blocks 1..4: a >=3-hop path plus a cycle, early in the day;
- fee = 0 on coinbase transactions and on ~10 % of the others;
- (address, time) ties: all rows of a block share its time, and
  recipients are drawn skewed from a small pool, so an address often
  receives twice in one block (the RANGE frame of the running balance);
- the CDD identity ``cdd = lifespan_days * value_btc`` on ~97 % of inputs,
  deliberately off by 1.5 on the rest;
- ~1 % null recipients;
- addresses with zero activity (``cold*``), one of them the clear richest.

Fee conservation (input_total = output_total + fee) and the child counts
(input_count / output_count match the rows written) hold exactly, so the
flow fan-out identity can be checked on the built marts.
"""

from __future__ import annotations

import gzip
import hashlib
import os
from dataclasses import dataclass
from datetime import date, timedelta

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

TYPES = ("blocks", "transactions", "inputs", "outputs", "addresses")
DAY0 = date(2024, 3, 1)
# SQL double literals: a plain 1.5-style literal is a DECIMAL in Spark SQL,
# and decimal division rounds to a fixed scale
BTC_PRICE = "6.0E4"
SATS = "1.0E8"
CHAIN = ("chain0", "chain1", "chain2", "chain3", "chain0")
MALFORMED_ROWS = 40


@dataclass(frozen=True)
class DaySize:
    blocks: int = 32
    tx_per_block: int = 32
    addresses: int = 2000
    cold_addresses: int = 10


def day_stamp(day: int) -> str:
    return (DAY0 + timedelta(days=day)).strftime("%Y%m%d")


def day_start(day: int) -> str:
    return (DAY0 + timedelta(days=day)).strftime("%Y-%m-%d 00:00:00")


def dump_name(kind: str, day: int, suffix: str = "") -> str:
    return f"blockchair_bitcoin_{kind}_{day_stamp(day)}{suffix}.tsv.gz"


def pool_address(seed: int, idx: int) -> str:
    """The address of pool rank ``idx`` (0 = most active), as written."""
    return "bc1q" + hashlib.sha256(f"addr{seed}:{idx}".encode()).hexdigest()[:36]


class _Exprs:
    """SQL snippets for hash-derived values of one (seed, day)."""

    def __init__(self, seed: int, day: int, size: DaySize):
        self.seed, self.day, self.size = seed, day, size

    def h(self, salt: str, *cols: str) -> str:
        return f"xxhash64({self.seed}, {self.day}, '{salt}', {', '.join(cols)})"

    def mod(self, salt: str, n: int, *cols: str) -> str:
        return f"pmod({self.h(salt, *cols)}, {n})"

    def unit(self, salt: str, *cols: str) -> str:
        return f"({self.mod(salt, 1 << 30, *cols)} / {float(1 << 30)})"

    def address(self, idx: str) -> str:
        # The pool is fixed per seed (not per day): the same addresses
        # come back every day, as on the real chain.
        return f"concat('bc1q', substr(sha2(concat('addr', {self.seed}, ':', {idx}), 256), 1, 36))"

    def recipient(self, salt: str, *cols: str) -> str:
        # idx = floor(N * u^1.5): the top address takes ~N^(-2/3) of rows
        pick = f"floor({self.size.addresses} * pow({self.unit(salt + 'a', *cols)}, 1.5))"
        return (
            f"CASE WHEN {self.mod(salt + 'n', 100, *cols)} = 0 THEN NULL "
            f"ELSE {self.address(pick)} END"
        )


def _transactions(spark: SparkSession, x: _Exprs) -> DataFrame:
    s = x.size
    interval = 86400 // s.blocks
    ov = f"10000 + {x.mod('ov', 9_999_990_000, 'id', 'o')}"
    tx = spark.range(s.blocks * s.tx_per_block).selectExpr(
        "id",
        f"800000 + {x.day * s.blocks} + id div {s.tx_per_block} AS block_id",
        f"timestamp_seconds(unix_seconds(timestamp'{day_start(x.day)}') "
        f"+ (id div {s.tx_per_block}) * {interval}) AS time",
        f"sha2(concat('tx:', {x.seed}, ':', {x.day}, ':', id), 256) AS hash",
        f"CAST(id % {s.tx_per_block} = 0 AS INT) AS is_coinbase",
    )
    tx = tx.selectExpr(
        "*",
        f"CASE WHEN is_coinbase = 1 THEN 1 ELSE 1 + {x.mod('nin', 4, 'id')} END AS input_count",
        f"1 + {x.mod('nout', 4, 'id')} AS output_count",
        f"CASE WHEN is_coinbase = 1 OR {x.mod('fz', 10, 'id')} = 0 THEN 0 "
        f"ELSE 1000 + {x.mod('fee', 49000, 'id')} END AS fee",
    )
    tx = tx.selectExpr(
        "*",
        f"aggregate(transform(sequence(0, output_count - 1), o -> {ov}), 0L, (a, v) -> a + v)"
        " AS output_total",
    )
    return tx.selectExpr(
        "*",
        "CASE WHEN is_coinbase = 1 THEN 0L ELSE output_total + fee END AS input_total",
    )


def _inputs(tx: DataFrame, x: _Exprs) -> DataFrame:
    inp = tx.selectExpr(
        "id", "block_id", "time", "hash", "is_coinbase", "input_count", "input_total",
        "explode(sequence(0, input_count - 1)) AS i",
    )
    inp = inp.selectExpr(
        "*",
        "input_total div input_count + CASE WHEN i = 0 "
        "THEN input_total % input_count ELSE 0 END AS value",
        f"{x.mod('life', 86400 * 200, 'id', 'i')} AS lifespan",
    )
    return inp.selectExpr(
        "block_id",
        "hash AS transaction_hash",
        "i AS index",
        "time",
        "value",
        f"value / {SATS} * {BTC_PRICE} AS value_usd",
        f"{x.recipient('ir', 'id', 'i')} AS recipient",
        "'pubkeyhash' AS type",
        f"substr(sha2(concat('script', {x.seed}, ':', id, ':', i), 256), 1, 64) AS script_hex",
        "is_coinbase AS is_from_coinbase",
        "1 AS is_spendable",
        "block_id AS spending_block_id",
        "hash AS spending_transaction_hash",
        "i AS spending_index",
        "timestamp_seconds(unix_seconds(time) + lifespan) AS spending_time",
        f"value / {SATS} * {BTC_PRICE} AS spending_value_usd",
        "4294967295L AS spending_sequence",
        f"sha2(concat('sig', {x.seed}, ':', id, ':', i), 256) AS spending_signature_hex",
        f"repeat('w', 1 + {x.mod('wit', 63, 'id', 'i')}) AS spending_witness",
        "lifespan",
        f"(lifespan / 86400.0D) * (value / {SATS}) "
        f"+ CASE WHEN {x.mod('cddoff', 100, 'id', 'i')} < 3 THEN 1.5D ELSE 0.0D END AS cdd",
    )


def _outputs(tx: DataFrame, x: _Exprs) -> DataFrame:
    out = tx.selectExpr(
        "id", "block_id", "time", "hash", "is_coinbase",
        "explode(sequence(0, output_count - 1)) AS o",
    )
    return out.selectExpr(
        "block_id",
        "hash AS transaction_hash",
        "o AS index",
        "time",
        f"10000 + {x.mod('ov', 9_999_990_000, 'id', 'o')} AS value",
        f"(10000 + {x.mod('ov', 9_999_990_000, 'id', 'o')}) / {SATS} * {BTC_PRICE} "
        "AS value_usd",
        f"{x.recipient('or', 'id', 'o')} AS recipient",
        "'pubkeyhash' AS type",
        f"substr(sha2(concat('oscript', {x.seed}, ':', id, ':', o), 256), 1, 64) AS script_hex",
        "is_coinbase AS is_from_coinbase",
        "1 AS is_spendable",
    )


def _chain(spark: SparkSession, x: _Exprs) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The planted hop chain: one 1-in/1-out transaction per hop, in
    blocks 1..4 so tx_time orders the hops."""
    s = x.size
    interval = 86400 // s.blocks
    value = 5_000_000_000
    base = spark.range(1, 5).selectExpr(
        "id",
        f"800000 + {x.day * s.blocks} + id AS block_id",
        f"timestamp_seconds(unix_seconds(timestamp'{day_start(x.day)}') + id * {interval}) AS time",
        f"sha2(concat('chain:', {x.seed}, ':', {x.day}, ':', id), 256) AS hash",
        f"element_at(array{tuple(CHAIN[:4])}, CAST(id AS INT)) AS src",
        f"element_at(array{tuple(CHAIN[1:])}, CAST(id AS INT)) AS dst",
    )
    usd = f"/ {SATS} * {BTC_PRICE}"
    cdd = f"(3600 / 86400.0D) * ({value} / {SATS})"
    tx = base.selectExpr(
        "block_id", "hash", "time", "250L AS size", "1000L AS weight", "2L AS version",
        "0L AS lock_time", "0 AS is_coinbase", "0L AS has_witness", "1L AS input_count",
        "1L AS output_count", f"{value}L AS input_total", f"{value} {usd} AS input_total_usd",
        f"{value - 10_000}L AS output_total", f"{value - 10_000} {usd} AS output_total_usd",
        "10000L AS fee", f"10000 {usd} AS fee_usd", "0.0D AS fee_per_kb",
        "0.0D AS fee_per_kb_usd", "0.0D AS fee_per_kwu", "0.0D AS fee_per_kwu_usd",
        f"{cdd} AS cdd_total",
    )
    inp = base.selectExpr(
        "block_id", "hash AS transaction_hash", "0L AS index", "time", f"{value}L AS value",
        f"{value} {usd} AS value_usd", "src AS recipient", "'pubkeyhash' AS type",
        "'00' AS script_hex", "0 AS is_from_coinbase", "1 AS is_spendable",
        "block_id AS spending_block_id", "hash AS spending_transaction_hash",
        "0L AS spending_index", "time AS spending_time", f"{value} {usd} AS spending_value_usd",
        "4294967295L AS spending_sequence", "'00' AS spending_signature_hex",
        "'w' AS spending_witness", "3600L AS lifespan", f"{cdd} AS cdd",
    )
    out = base.selectExpr(
        "block_id", "hash AS transaction_hash", "0L AS index", "time",
        f"{value - 10_000}L AS value", f"{value - 10_000} {usd} AS value_usd",
        "dst AS recipient", "'pubkeyhash' AS type", "'00' AS script_hex",
        "0 AS is_from_coinbase", "1 AS is_spendable",
    )
    return tx, inp, out


def day_tables(spark: SparkSession, seed: int, day: int, size: DaySize) -> dict[str, DataFrame]:
    x = _Exprs(seed, day, size)
    tx = _transactions(spark, x)
    inputs = _inputs(tx, x)
    outputs = _outputs(tx, x)
    usd = f"/ {SATS} * {BTC_PRICE}"
    # per-tx CDD = sum of its inputs' cdd, summed in input order
    tx_cdd = inputs.groupBy("transaction_hash").agg(F.sum("cdd").alias("cdd_total"))
    transactions = tx.join(tx_cdd, tx.hash == tx_cdd.transaction_hash).selectExpr(
        "block_id", "hash", "time",
        f"200 + {x.mod('size', 99800, 'id')} AS size", "0L AS weight", "2L AS version",
        "0L AS lock_time", "is_coinbase", f"{x.mod('wit', 2, 'id')} AS has_witness",
        "input_count", "output_count", "input_total", f"input_total {usd} AS input_total_usd",
        "output_total", f"output_total {usd} AS output_total_usd", "fee",
        f"fee {usd} AS fee_usd", "0.0D AS fee_per_kb", "0.0D AS fee_per_kb_usd",
        "0.0D AS fee_per_kwu", "0.0D AS fee_per_kwu_usd", "cdd_total",
    )
    chain_tx, chain_in, chain_out = _chain(spark, x)
    transactions = transactions.unionByName(chain_tx)
    inputs = inputs.unionByName(chain_in)
    outputs = outputs.unionByName(chain_out)

    per_block = transactions.groupBy("block_id").agg(
        F.count(F.lit(1)).alias("transaction_count"),
        F.sum("has_witness").alias("witness_count"),
        F.sum("input_count").alias("input_count"),
        F.sum("output_count").alias("output_count"),
        F.sum("input_total").alias("input_total"),
        F.sum("output_total").alias("output_total"),
        F.sum("fee").alias("fee_total"),
        F.sum("cdd_total").alias("cdd_total"),
        F.min("time").alias("time"),
    )
    blocks = per_block.selectExpr(
        "block_id AS id",
        f"sha2(concat('blk', {x.seed}, ':', block_id), 256) AS hash",
        "time",
        "timestamp_seconds(unix_seconds(time) - 3600) AS median_time",
        f"100000 + {x.mod('bsize', 1_900_000, 'block_id')} AS size",
        "90000L AS stripped_size",
        f"400000 + {x.mod('bweight', 3_600_000, 'block_id')} AS weight",
        "536870912L AS version", "'20000000' AS version_hex",
        "repeat('0', 32) AS version_bits",
        f"sha2(concat('mr', {x.seed}, ':', block_id), 256) AS merkle_root",
        f"{x.mod('nonce', 1 << 32, 'block_id')} AS nonce",
        "386089497L AS bits", "88104191118793L AS difficulty",
        f"sha2(concat('cw', {x.seed}, ':', block_id), 256) AS chainwork",
        f"substr(sha2(concat('cb', {x.seed}, ':', block_id), 256), 1, 32) AS coinbase_data_hex",
        "transaction_count", "witness_count", "input_count", "output_count",
        "input_total", f"input_total {usd} AS input_total_usd",
        "output_total", f"output_total {usd} AS output_total_usd",
        "fee_total", f"fee_total {usd} AS fee_total_usd",
        "0.0D AS fee_per_kb", "0.0D AS fee_per_kb_usd",
        "0.0D AS fee_per_kwu", "0.0D AS fee_per_kwu_usd",
        "cdd_total",
        "312500000L AS generation", f"312500000 {usd} AS generation_usd",
        "312500000 + fee_total AS reward", f"(312500000 + fee_total) {usd} AS reward_usd",
        f"concat('miner', {x.mod('miner', 10, 'block_id')}) AS guessed_miner",
    )

    pool = spark.range(size.addresses).selectExpr(
        f"{x.address('id')} AS address", f"{x.mod('bal', 10_000_000_000, 'id')} AS balance"
    )
    chain = spark.range(4).selectExpr(
        "concat('chain', id) AS address", f"{x.mod('cbal', 10_000_000_000, 'id')} AS balance"
    )
    # zero-activity addresses; the last one holds the clear top balance
    cold = spark.range(size.cold_addresses).selectExpr(
        "concat('cold', lpad(CAST(id AS STRING), 2, '0')) AS address",
        f"CASE WHEN id = {size.cold_addresses - 1} THEN 1000000000000L ELSE 0L END AS balance",
    )
    addresses = pool.unionByName(chain).unionByName(cold)
    return {
        "blocks": blocks,
        "transactions": transactions,
        "inputs": inputs,
        "outputs": outputs,
        "addresses": addresses,
    }


# a unique sort key per file, so the row order is fixed
SORT_KEYS = {
    "blocks": ["id"],
    "transactions": ["hash"],
    "inputs": ["transaction_hash", "index"],
    "outputs": ["transaction_hash", "index"],
    "addresses": ["address"],
}


def _malformed(outputs: pd.DataFrame) -> pd.DataFrame:
    """A re-sent outputs fragment in which every fourth row has a
    non-numeric block_id: the load must skip the whole file."""
    head = outputs.head(MALFORMED_ROWS).copy()
    head["block_id"] = [
        f"blk-{b}" if i % 4 == 3 else str(b) for i, b in enumerate(head["block_id"])
    ]
    return head


def _write_tsv(pdf: pd.DataFrame, path: str) -> None:
    # Rows are made on Spark; the file is written here, with a fixed gzip
    # header (no name, mtime 0), so equal seeds give equal bytes.
    with open(path, "wb") as raw, gzip.GzipFile(
        filename="", mode="wb", fileobj=raw, compresslevel=6, mtime=0
    ) as gz:
        gz.write(
            pdf.to_csv(sep="\t", index=False, date_format="%Y-%m-%d %H:%M:%S").encode()
        )


def write_day(
    spark: SparkSession, seed: int, day: int, size: DaySize, out_dir: str
) -> dict[str, str]:
    """Write one day's dump files; returns {type: path}, with the
    malformed file under the key ``"malformed"``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for kind, df in day_tables(spark, seed, day, size).items():
        pdf = df.toPandas().sort_values(SORT_KEYS[kind], kind="mergesort", ignore_index=True)
        paths[kind] = os.path.join(out_dir, dump_name(kind, day))
        _write_tsv(pdf, paths[kind])
        if kind == "outputs":
            paths["malformed"] = os.path.join(out_dir, dump_name("outputs", day, "_resent"))
            _write_tsv(_malformed(pdf), paths["malformed"])
    return paths
