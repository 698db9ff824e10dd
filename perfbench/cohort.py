"""Seeded synthetic cohorts and their numpy truth.

Two inputs are generated here, both from a caller-given seed:

* `make_cohort` + `write_vcf`: a diploid cohort written as a VCF, with a
  rare-variant-skewed allele-frequency spectrum, per-variant missingness,
  phased and unphased sites and some tri-allelic sites. The `Cohort`
  object keeps the allele matrix so results can be checked against numpy.
* `block_codes` + `write_packed`: a 2-bit packed genotype table (the
  layout of `sources.packed.pack_2bit_genotypes`) built by the executors,
  one fixed-size block of variants per seeded generator, so the driver can
  rebuild any block's codes for checking without reading the table back.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

CHROMS = ("20", "21", "22")
BASES = np.array(list("ACGT"))
MEAN_GAP_BP = 200
PACK_BLOCK = 1024  # variants per seeded generator in the packed table


def _alt_frequencies(rng, n: int, n_samples: int) -> np.ndarray:
    """Rare-variant-skewed spectrum: most sites are rare, few are common."""
    p = rng.beta(0.15, 1.0, n)
    return np.clip(p, 0.5 / n_samples, 0.95)


@dataclass
class Cohort:
    chrom: np.ndarray      # (n_var,) chromosome names
    pos: np.ndarray        # (n_var,) 1-based positions, sorted per chromosome
    ref: np.ndarray        # (n_var,) REF base
    alt: list[str]         # (n_var,) ALT field, "C" or "C,G"
    phased: np.ndarray     # (n_var,) bool, site written with '|'
    alleles: np.ndarray    # (n_var, n_samp, 2) int8, -1 = missing
    sample_ids: list[str]

    @property
    def n_calls(self) -> int:
        return self.alleles.shape[0] * self.alleles.shape[1]

    def rows(self, chrom: str | None = None, lo: int | None = None,
             hi: int | None = None) -> np.ndarray:
        """Variant row indices on `chrom` within [lo, hi] (all if None)."""
        keep = np.ones(len(self.pos), dtype=bool)
        if chrom is not None:
            keep &= self.chrom == chrom
        if lo is not None:
            keep &= self.pos >= lo
        if hi is not None:
            keep &= self.pos <= hi
        return np.flatnonzero(keep)

    def variant_stats(self, rows: np.ndarray) -> dict[str, np.ndarray]:
        """`operators.aggregates.af_ac_missing` truth (REF allele, slot-level
        missingness) for the variant rows `rows` over all samples."""
        a = self.alleles[rows]
        an = (a >= 0).sum(axis=(1, 2))
        ac = (a == 0).sum(axis=(1, 2))
        return {
            "an": an,
            "ac": ac,
            "missing_rate": (a < 0).sum(axis=(1, 2)) / (2.0 * a.shape[1]),
        }

    def sample_missing(self, cols: np.ndarray) -> np.ndarray:
        """Per-sample slot missing rate over all variants."""
        a = self.alleles[:, cols]
        return (a < 0).sum(axis=(0, 2)) / (2.0 * a.shape[0])

    def alt_dosage(self) -> np.ndarray:
        """2-bit codes of `pack_2bit_genotypes`: ALT copies, 3 = missing."""
        dos = (self.alleles > 0).sum(axis=2).astype(np.uint8)
        return np.where(self.alleles[..., 0] < 0, np.uint8(3), dos)


def make_cohort(seed: int, n_variants: int, n_samples: int) -> Cohort:
    rng = np.random.default_rng(seed)
    per = -(-n_variants // len(CHROMS))
    chrom = np.repeat(np.array(CHROMS), per)[:n_variants]
    pos = np.empty(n_variants, dtype=np.int64)
    for c in CHROMS:
        idx = np.flatnonzero(chrom == c)
        pos[idx] = 10_000 + np.cumsum(rng.integers(1, 2 * MEAN_GAP_BP, len(idx)))

    ref_i = rng.integers(0, 4, n_variants)
    off1 = rng.integers(1, 4, n_variants)
    off2 = 1 + (off1 - 1 + rng.integers(1, 3, n_variants)) % 3
    multi = rng.random(n_variants) < 0.05
    alt1 = BASES[(ref_i + off1) % 4]
    alt2 = BASES[(ref_i + off2) % 4]
    alt = [f"{a},{b}" if m else str(a) for a, b, m in zip(alt1, alt2, multi)]

    p = _alt_frequencies(rng, n_variants, n_samples)
    share = np.where(multi, rng.uniform(0.3, 0.7, n_variants), 1.0)
    p1, p2 = p * share, p * (1.0 - share)
    u = rng.random((n_variants, n_samples, 2))
    alleles = ((u >= (1.0 - p1 - p2)[:, None, None]).astype(np.int8)
               + (u >= (1.0 - p2)[:, None, None]).astype(np.int8))
    miss_rate = rng.beta(0.5, 40.0, n_variants)
    missing = rng.random((n_variants, n_samples)) < miss_rate[:, None]
    alleles[missing] = -1
    return Cohort(
        chrom=chrom,
        pos=pos,
        ref=BASES[ref_i],
        alt=alt,
        phased=rng.random(n_variants) < 0.7,
        alleles=alleles,
        sample_ids=[f"NA{10000 + i}" for i in range(n_samples)],
    )


def write_vcf(c: Cohort, path: str) -> None:
    """VCF 4.2 with a GT-only FORMAT; the genotype body is built as one
    numpy byte matrix (4 bytes per call: allele, separator, allele, tab)."""
    n_var, n_samp = c.alleles.shape[:2]
    digits = np.where(c.alleles < 0, ord("."), ord("0") + c.alleles).astype(np.uint8)
    cells = np.empty((n_var, n_samp, 4), dtype=np.uint8)
    cells[..., 0] = digits[..., 0]
    cells[..., 1] = np.where(c.phased, ord("|"), ord("/"))[:, None]
    cells[..., 2] = digits[..., 1]
    cells[..., 3] = ord("\t")
    cells[:, -1, 3] = ord("\n")
    body = cells.reshape(n_var, n_samp * 4)
    header = [
        "##fileformat=VCFv4.2",
        *(f"##contig=<ID={ch}>" for ch in CHROMS),
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
        "\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
                   "INFO", "FORMAT", *c.sample_ids]),
    ]
    with open(path, "wb") as fh:
        fh.write(("\n".join(header) + "\n").encode())
        for i in range(n_var):
            fh.write(f"{c.chrom[i]}\t{c.pos[i]}\t.\t{c.ref[i]}\t{c.alt[i]}"
                     f"\t50\tPASS\t.\tGT\t".encode())
            fh.write(body[i].tobytes())


# ---------------------------------------------------------------------------
# packed 2-bit table
# ---------------------------------------------------------------------------


def block_codes(seed: int, block: int, n_variants: int, n_samples: int) -> np.ndarray:
    """2-bit codes (ALT copies 0..2, 3 = missing) of variants
    [block * PACK_BLOCK, ...) under Hardy-Weinberg with a skewed spectrum
    and ~1% missing calls; the same (seed, block) always gives the same
    codes."""
    lo = block * PACK_BLOCK
    n = min(PACK_BLOCK, n_variants - lo)
    rng = np.random.default_rng([seed, block])
    p = _alt_frequencies(rng, n, n_samples)
    u = rng.random((n, n_samples, 2))
    codes = (u < p[:, None, None]).sum(axis=2).astype(np.uint8)
    codes[rng.random((n, n_samples)) < 0.01] = 3
    return codes


def pack_codes(codes: np.ndarray) -> np.ndarray:
    """(n, n_samp) codes -> (n, ceil(n_samp/4)) bytes, sample k of a byte
    at bits 2k, padding lanes missing (the pack_2bit_genotypes layout)."""
    n, n_samp = codes.shape
    pad = -n_samp % 4
    full = np.pad(codes, ((0, 0), (0, pad)), constant_values=3)
    shifts = np.array([0, 2, 4, 6], dtype=np.uint8)
    return np.bitwise_or.reduce(full.reshape(n, -1, 4) << shifts, axis=2).astype(np.uint8)


def packed_positions(seed: int, n_variants: int) -> np.ndarray:
    """Sorted positions of the packed table's variants (one chromosome)."""
    rng = np.random.default_rng([seed, -1 % 2**32])
    return 10_000 + np.cumsum(rng.integers(1, 2 * MEAN_GAP_BP, n_variants))


def write_packed(spark, path: str, seed: int, n_variants: int, n_samples: int,
                 partitions: int) -> None:
    """Executors build the packed rows straight into Arrow buffers (the
    tools/af_scan_stress.py pattern), one seeded block per input row."""
    import pyarrow as pa

    def gen(batches):
        for rb in batches:
            for block in rb.column(0).to_numpy():
                mat = pack_codes(block_codes(seed, int(block), n_variants, n_samples))
                n, stride = mat.shape
                offs = np.arange(0, (n + 1) * stride, stride, dtype=np.int32)
                packed = pa.BinaryArray.from_buffers(
                    pa.binary(), n,
                    [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(mat.tobytes())],
                )
                ids = np.arange(n, dtype=np.int64) + int(block) * PACK_BLOCK + 1
                yield pa.RecordBatch.from_arrays(
                    [pa.array(ids), pa.array(np.full(n, n_samples, np.int32)), packed],
                    names=["variant_id", "n_samples", "packed"],
                )

    n_blocks = -(-n_variants // PACK_BLOCK)
    (
        spark.range(0, n_blocks, 1, partitions)
        .mapInArrow(gen, "variant_id long, n_samples int, packed binary")
        .write.mode("overwrite").parquet(path)
    )
