"""Genomic test inputs rebuilt from the committed parquet twins in
``fixtures/oracle/``, so the tests that use them need no external fixture:
reads rows from ``bam_1_reads``, a coordinate-sorted header from
``bam_1_contigs``, variants rows from ``vcf_hiseq`` + ``vcf_hiseq_gt``, and
a seeded FASTA for CRAM."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.pandas.types import to_arrow_schema

from disq_original_spark.sources.bam import READS_SCHEMA
from disq_original_spark.sources.headers import SamHeader

TWINS = Path(__file__).resolve().parent.parent / "fixtures" / "oracle"


def twin(name: str):
    return pq.read_table(TWINS / f"{name}.parquet").to_pandas()


def frame(spark, rows: list[tuple], schema):
    """A JVM-local frame of ``rows`` built through Arrow: the sinks' several
    passes over it start no Python task to re-verify the rows."""
    arrow = to_arrow_schema(schema)
    cols = zip(*rows)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def reads_rows(reads) -> list[tuple]:
    cols = [f.name for f in READS_SCHEMA.fields if f.name != "attributes"]
    return [(*row, {}) for row in reads[cols].itertuples(index=False)]


def sorted_reads():
    """``bam_1_reads`` in coordinate order (ties broken by name and flag)."""
    return twin("bam_1_reads").sort_values(["pos", "qname", "flag"], kind="stable")


def reads_header() -> SamHeader:
    """Coordinate-sorted header with the @SQ lines of ``bam_1_contigs``."""
    contigs = twin("bam_1_contigs").sort_values("rank")
    return SamHeader.parse(
        "@HD\tVN:1.6\tSO:coordinate\n"
        + "".join(f"@SQ\tSN:{c}\tLN:{n}\n" for c, n in zip(contigs["contig"], contigs["length"]))
    )


def write_qname_sorted_bam(spark, path: str) -> None:
    """``bam_1_reads`` sorted by name (ties by flag) as a BAM whose header
    says ``SO:queryname``, written by ``BamSink``."""
    from disq_original_spark.sources.bam import BamSink

    reads = twin("bam_1_reads").sort_values(["qname", "flag"], kind="stable")
    header = SamHeader.parse(reads_header().text.replace("SO:coordinate", "SO:queryname"))
    BamSink().write(frame(spark, reads_rows(reads), READS_SCHEMA).coalesce(1), header, path)


def cram_reads(reads, n: int = 300):
    """The first ``n`` mapped reads moved onto contig ``c1`` of
    :func:`seeded_fasta` (mismatches against it are stored, not lost)."""
    small = reads[(reads["flag"] & 4) == 0].head(n).copy()
    small["pos"] = small["pos"] - int(small["pos"].min()) + 1
    small["pnext"] = 0
    small["rnext"] = None
    small["tlen"] = 0
    small["rname"] = "c1"
    return small


CRAM_HEADER = "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:20000\n"


def seeded_fasta(d: Path, length: int = 20_000, seed: int = 7) -> str:
    """``d/c1.fa`` (+ ``.fai``): one contig ``c1`` of seeded random bases."""
    fasta = d / "c1.fa"
    bases = np.random.default_rng(seed).choice(list(b"ACGT"), length).astype(np.uint8).tobytes()
    fasta.write_bytes(b">c1\n" + b"".join(bases[i : i + 60] + b"\n" for i in range(0, length, 60)))
    Path(str(fasta) + ".fai").write_text(f"c1\t{length}\t4\t60\t61\n")
    return str(fasta)


def variants():
    """(variants rows, header text) from ``vcf_hiseq`` + the
    NA12878 genotypes of ``vcf_hiseq_gt``."""
    v = twin("vcf_hiseq")
    gt = twin("vcf_hiseq_gt")
    gt = gt[gt["sample"] == "NA12878"].drop_duplicates(["contig", "pos"])
    v = v.merge(gt[["contig", "pos", "gt"]], on=["contig", "pos"], how="left")
    v["gt"] = v["gt"].fillna("./.")
    rows = [
        (
            c, int(p), None, ref, list(alts), None if q != q else float(q), list(fl),
            {"DP": str(int(dp)), **({"DB": ""} if db else {})},
            [("NA12878", g, {"GT": g})],
        )
        for c, p, ref, alts, q, fl, dp, db, g in zip(
            v["contig"], v["pos"], v["ref"], v["alts"], v["qual"], v["filters"],
            v["info_dp"], v["info_db"], v["gt"],
        )
    ]
    filters = sorted({f for fl in v["filters"] for f in fl})
    header = "\n".join(
        ["##fileformat=VCFv4.2", "##contig=<ID=chr1,length=249250621>"]
        + [
            '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
            '##INFO=<ID=DB,Number=0,Type=Flag,Description="dbSNP">',
            '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        ]
        + [f'##FILTER=<ID={f},Description="{f}">' for f in filters]
        + ["#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tNA12878"]
    ) + "\n"
    return rows, header
