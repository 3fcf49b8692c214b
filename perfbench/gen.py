"""Seeded input generator.

Every input the benchmark feeds the program is made here from ``--seed``
and the committed parquet twins in ``fixtures/oracle/``:

- reads: ``bam_1_reads`` (real flags, CIGARs, sequences and qualities)
  tiled at seeded offsets over a small synthetic genome, with one ``@RG``
  carrying the ``bam_1_dupsig`` library;
- a reference FASTA (+ ``.fai``) that carries the tiled reads' aligned
  bases, so CRAM encodes the reads' real mismatches against it rather
  than one substitution per base;
- variants: ``vcf_hiseq`` + ``vcf_hiseq_gt`` tiled the same way;
- query tables with the shapes of the TPC-H-like test data (TESTDATA.md).

The program never sees the seed, only these frames and files.  Expected
counts and content checksums come from this module alone (no Spark), so a
decode or encode fault in the program cannot also corrupt the expectation.
"""

from __future__ import annotations

import json
import re
import zlib
from dataclasses import dataclass
from functools import cached_property
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
FIXTURES = ROOT / "fixtures" / "oracle"

READ_CONTIGS = ("1", "2", "3")
READ_CONTIG_LEN = 1_200_000
VCF_CONTIGS = ("chr1", "chr2", "chr3")
VCF_CONTIG_LEN = 12_000_000
RG_ID = "rg0"
VCF_SAMPLE = "NA12878"

_CIGAR_OP = re.compile(r"(\d+)([MIDNSHP=X])")


def fixture(name: str) -> pd.DataFrame:
    """Load one committed twin; a missing twin aborts the run loudly."""
    path = FIXTURES / f"{name}.parquet"
    if not path.is_file():
        raise FileNotFoundError(f"benchmark input twin missing: {path}")
    return pq.read_table(path).to_pandas()


def cigar_ref_len(cigar: str) -> int:
    return sum(int(n) for n, op in _CIGAR_OP.findall(cigar) if op in "MDN=X")


def crc_sum(lines) -> int:
    """Order-insensitive content checksum: sum of CRC-32s of canonical
    record strings (Spark's ``crc32`` over the same UTF-8 bytes agrees)."""
    return sum(zlib.crc32(s.encode()) for s in lines)


# ---------------------------------------------------------------- reads


READS_FIELDS = ("qname", "flag", "rname", "pos", "mapq", "cigar", "rnext", "pnext",
                "tlen", "seq", "qual", "attributes")


def _json_rows(df: pd.DataFrame, fields) -> list[str]:
    """Compact JSON per row with null fields left out: byte-identical to
    Spark's ``to_json(struct(...))`` for this data (ASCII, no doubles)."""
    out = []
    for row in df[list(fields)].itertuples(index=False):
        d = {k: (v.tolist() if isinstance(v, np.ndarray) else v)
             for k, v in zip(fields, row) if v is not None}
        out.append(json.dumps(d, separators=(",", ":"), default=int))
    return out


def reads_canon(df: pd.DataFrame) -> list[str]:
    """Canonical string per read; ``workloads.READS_CANON_SQL`` is its
    Spark twin and must build byte-identical strings."""
    return _json_rows(df, READS_FIELDS)


@dataclass
class Reads:
    frame: pd.DataFrame  # reads schema, coordinate-sorted
    header_text: str
    end: np.ndarray  # 1-based inclusive alignment end per row

    @property
    def count(self) -> int:
        return len(self.frame)

    @cached_property
    def checksum(self) -> int:
        return crc_sum(reads_canon(self.frame))


def tile_reads(seed: int, copies: int) -> Reads:
    """``copies`` tiles of ``bam_1_reads``, each shifted to a seeded offset
    on one of the synthetic contigs, qnames made unique per tile."""
    rng = np.random.default_rng([seed, 1])
    base = fixture("bam_1_reads")
    lib = str(fixture("bam_1_dupsig")["lib"].iloc[0])
    rel = base["pos"].to_numpy() - int(base["pos"].min())
    span = int(rel.max()) + 200
    pnext_rel = base["pnext"].to_numpy() - int(base["pos"].min())
    parts = []
    for k in range(copies):
        contig = READ_CONTIGS[int(rng.integers(len(READ_CONTIGS)))]
        off = int(rng.integers(1, READ_CONTIG_LEN - span))
        t = base.copy()
        t["qname"] = t["qname"] + f":{k}"
        t["rname"] = contig
        t["pos"] = rel + off
        # same-contig mates ('=') move with the tile; the few mates on
        # contigs outside the synthetic genome become unplaced
        same = (t["rnext"] == "=").to_numpy()
        t["rnext"] = np.where(same, "=", None)
        t["pnext"] = np.where(same & (t["pnext"].to_numpy() > 0), pnext_rel + off, 0)
        parts.append(t)
    df = pd.concat(parts, ignore_index=True)
    df["rank"] = df["rname"].map({c: i for i, c in enumerate(READ_CONTIGS)})
    df = df.sort_values(["rank", "pos", "qname", "flag"], kind="stable").drop(columns="rank")
    df = df.reset_index(drop=True)
    df["attributes"] = [{"RG": f"Z:{RG_ID}"}] * len(df)
    for c, t in (("flag", "int32"), ("mapq", "int32"), ("pos", "int64"),
                 ("pnext", "int64"), ("tlen", "int64")):
        df[c] = df[c].astype(t)
    header = "\n".join(
        ["@HD\tVN:1.6\tSO:coordinate"]
        + [f"@SQ\tSN:{c}\tLN:{READ_CONTIG_LEN}" for c in READ_CONTIGS]
        + [f"@RG\tID:{RG_ID}\tLB:{lib}\tSM:{VCF_SAMPLE}"]
    ) + "\n"
    ends = df["pos"].to_numpy() + np.array(
        [max(cigar_ref_len(c), 1) for c in df["cigar"]], dtype=np.int64
    ) - 1
    return Reads(df, header, ends)


def reference_fasta(seed: int, reads: Reads, out: Path) -> Path:
    """Write a ``.fai``-indexed FASTA of random bases overlaid with the
    reads' aligned (M/=/X) bases, first writer wins."""
    rng = np.random.default_rng([seed, 2])
    seqs = {c: rng.choice(np.frombuffer(b"ACGT", np.uint8), READ_CONTIG_LEN)
            for c in READ_CONTIGS}
    painted = {c: np.zeros(READ_CONTIG_LEN, bool) for c in READ_CONTIGS}
    f = reads.frame
    for contig, pos, cigar, seq in zip(f["rname"], f["pos"], f["cigar"], f["seq"]):
        if seq == "*" or cigar == "*":
            continue
        ref, mask, r, q = seqs[contig], painted[contig], int(pos) - 1, 0
        b = np.frombuffer(seq.encode(), np.uint8)
        for n, op in _CIGAR_OP.findall(cigar):
            n = int(n)
            if op in "M=X":
                fresh = ~mask[r:r + n]
                ref[r:r + n][fresh] = b[q:q + n][fresh]
                mask[r:r + n] = True
                r, q = r + n, q + n
            elif op in "IS":
                q += n
            elif op in "DN":
                r += n
    width = 60
    fai = []
    with open(out, "wb") as fh:
        for c in READ_CONTIGS:
            name = f">{c}\n".encode()
            fh.write(name)
            off = fh.tell()
            s = seqs[c].tobytes()
            fh.write(b"".join(s[i:i + width] + b"\n" for i in range(0, len(s), width)))
            fai.append(f"{c}\t{len(s)}\t{off}\t{width}\t{width + 1}\n")
    Path(str(out) + ".fai").write_text("".join(fai))
    return out


# ---------------------------------------------------------------- variants


VARIANTS_FIELDS = ("contig", "pos", "id", "ref", "alts", "filters", "info", "genotypes")


def variants_canon(df: pd.DataFrame) -> list[str]:
    """Canonical string per variant (QUAL as round-half-up centi-units, so
    no double is rendered); ``workloads.VARIANTS_CANON_SQL`` is its Spark
    twin."""
    qual = np.floor(df["qual"].to_numpy() * 100 + 0.5).astype(np.int64)
    return [j + str(q) for j, q in zip(_json_rows(df, VARIANTS_FIELDS), qual)]


@dataclass
class Variants:
    frame: pd.DataFrame  # variants schema, sorted by (contig, pos)
    header_text: str
    end: np.ndarray

    @property
    def count(self) -> int:
        return len(self.frame)

    @cached_property
    def checksum(self) -> int:
        return crc_sum(variants_canon(self.frame))


def _fmt_float(x: float) -> str:
    return str(int(x)) if float(x).is_integer() else repr(float(x))


def tile_variants(seed: int, copies: int) -> Variants:
    rng = np.random.default_rng([seed, 3])
    v = fixture("vcf_hiseq")
    gt = fixture("vcf_hiseq_gt")
    gt = gt[gt["sample"] == VCF_SAMPLE].drop_duplicates(["contig", "pos"])
    v = v.merge(gt[["contig", "pos", "gt"]], on=["contig", "pos"], how="left")
    v["gt"] = v["gt"].fillna("./.")
    v = v[v["qual"].notna()].reset_index(drop=True)
    info = [
        {"DP": str(int(dp)), "MQ": _fmt_float(mq), **({"DB": ""} if db else {})}
        for dp, mq, db in zip(v["info_dp"], v["info_mq"], v["info_db"])
    ]
    gq = [
        next((_fmt_float(x) for x in (g if g is not None else []) if x == x), None)
        for g in v["gq_list"]
    ]
    genotypes = [
        [{"sample": VCF_SAMPLE, "gt": g,
          "attrs": {"GT": g, **({"GQ": q} if q is not None else {})}}]
        for g, q in zip(v["gt"], gq)
    ]
    span = int(v["pos"].max()) + 1000
    parts = []
    for k in range(copies):
        contig = VCF_CONTIGS[int(rng.integers(len(VCF_CONTIGS)))]
        off = int(rng.integers(0, VCF_CONTIG_LEN - span))
        parts.append(pd.DataFrame({
            "contig": contig,
            "pos": v["pos"].to_numpy() + off,
            "id": None,
            "ref": v["ref"],
            "alts": v["alts"].map(list),
            "qual": v["qual"].astype(float),
            "filters": v["filters"].map(list),
            "info": info,
            "genotypes": genotypes,
        }))
    df = pd.concat(parts, ignore_index=True)
    df["rank"] = df["contig"].map({c: i for i, c in enumerate(VCF_CONTIGS)})
    df = df.sort_values(["rank", "pos"], kind="stable").drop(columns="rank")
    df = df.reset_index(drop=True)
    header = "\n".join(
        ["##fileformat=VCFv4.2"]
        + [f"##contig=<ID={c},length={VCF_CONTIG_LEN}>" for c in VCF_CONTIGS]
        + [
            '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
            '##INFO=<ID=MQ,Number=1,Type=Float,Description="Mapping quality">',
            '##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP">',
            '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
            '##FORMAT=<ID=GQ,Number=1,Type=Float,Description="Genotype quality">',
        ]
        + sorted({f"##FILTER=<ID={f},Description=\"{f}\">" for fl in v["filters"] for f in fl})
        + ["\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
                      "FORMAT", VCF_SAMPLE])]
    ) + "\n"
    end = df["pos"].to_numpy() + df["ref"].str.len().to_numpy() - 1
    return Variants(df, header, end)


# ---------------------------------------------------------------- lookups


def lookups(seed: int, n: int, reads: Reads, variants: Variants) -> list[tuple[str, str, int, int]]:
    """``n`` seeded (fmt, contig, start, end) lookups alternating BAM and
    VCF, lengths log-uniform over 1 kb-100 kb, each centred on a random
    record, as a genome-browser user looks where the data is.  (A lookup
    that misses all data costs about 1 s less on the VCF path; mixing hits
    and misses at two samples per run made the figures follow the seed.)"""
    rng = np.random.default_rng([seed, 4])
    out = []
    for i in range(n):
        fmt = ("bam", "vcf")[i % 2]
        f, key = (reads.frame, "rname") if fmt == "bam" else (variants.frame, "contig")
        length = int(10 ** rng.uniform(3, 5))
        row = int(rng.integers(len(f)))
        start = max(1, int(f["pos"].iloc[row]) - length // 2)
        out.append((fmt, str(f[key].iloc[row]), start, start + length - 1))
    return out


# ---------------------------------------------------------------- query tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
_STEMS = ("join hash row batch scan column customer filter small slow merge order "
          "vector line table data agg value key stream window a spark part group big "
          "sort query fast the").split()
# 961 words: with the test data's 31 stems alone, unrelated random documents
# share enough shingles to collide in the LSH bands, and the dedup clusters
# (and their job counts) then change shape from seed to seed
_WORDS = [a + b for a in _STEMS for b in _STEMS]


def _ts(rng, start: str, days: int, n: int, unit: str = "D") -> pa.Array:
    base = np.datetime64(start, "us")
    if unit == "D":
        d = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    else:
        d = rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def query_tables(seed: int, out: Path, scale: float) -> None:
    """Write the ten query tables as parquet under ``out`` with the column
    names and types of the test data in TESTDATA.md; ``scale`` 0.01 gives its
    sf0.01 row counts."""
    rng = np.random.default_rng([seed, 5])
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), max(int(10_000 * scale), 25), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_docs, n_emb, n_ev = max(int(50_000 * scale), 200), max(int(50_000 * scale), 200), int(1_000_000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(_REGIONS, s)}),
        "nation": pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": pa.array([n for n, _ in _NATIONS], s),
                            "n_regionkey": pa.array([r for _, r in _NATIONS], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust), s),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([
                f"{a} {b}" for a, b in zip(
                    rng.choice(["small", "red", "blue", "large", "green"], n_part),
                    rng.choice(["ring", "widget", "bolt", "gear", "nut"], n_part))], s),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), f64),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
            "o_totalprice": pa.array(money(1000, 500_000, n_ord), f64),
            "o_orderdate": _ts(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": pa.array(money(900, 105_000, n_li), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
            "l_shipdate": _ts(rng, "1995-01-02", 2400, n_li),
        }),
        "events": _events(rng, n_ev),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    for name, t in tables.items():
        pq.write_table(t, out / f"{name}.parquet")


def _events(rng, n: int) -> pa.Table:
    ts = np.sort(_ts(rng, "2024-01-01", 30, n, unit="us").to_numpy(zero_copy_only=False))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": pa.array(rng.choice(["click", "error", "purchase", "signup", "view"], n)),
        "value": pa.array(np.round(rng.exponential(50, n) + 0.01, 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng, n: int) -> pa.Table:
    texts, originals = [], []
    for i in range(n):
        if i % 10 == 9:
            # every tenth document is a one-word edit of an earlier
            # original: the dedup queries' clusters have members, and as
            # stars (never chains) their connected-components rounds do
            # not vary with the seed
            words = texts[originals[int(rng.integers(len(originals)))]].split()
            j = int(rng.integers(0, len(words)))
            words[j] = _WORDS[int(rng.integers(len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            originals.append(i)
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, dim))
    v = centers[labels] + rng.normal(scale=0.8, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
