"""Seeded inputs for the benchmark and their pure-Python expected answers.

Everything here is a function of the seed: the same seed gives byte-equal
PDF files, the same query texts and the same expected chunks.  The package
receives only the generated files and query texts; the expected answers are
computed on the side with the package's pure-Python reference functions
(``split_chunks``, ``normalize_whitespace``, ``hash_embed_text``), never by
running the Spark path under test.

Text model: words come from the 31-word vocabulary of the ``documents``
fixture table (whose rows are 44-577 chars of uniform word salad).  To give
the vector index something to find, each file draws from one of a few
seeded topics (five boosted words), and pages are sentences wrapped into
PDF text lines.  A third of each file's pages is longer than the 7500-char
chunk limit, so the chunk-split path runs; fixture rows alone never reach it.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

import numpy as np

DIM = 1536  # the reference's embedding dimension (text-embedding-ada-002)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
N_TOPICS = 6
TOPIC_BOOST = 12.0
LONG_PAGE_SHARE = 1 / 3  # share of each file's pages longer than the 7500-char chunk limit
LONG_PAGE_CHARS = (7600, 16000)
SHORT_PAGE_CHARS = (300, 3000)
LINE_CHARS = 90


@dataclass
class Chunk:
    id: str
    file_name: str
    page_number: int
    chunk_index: int
    text: str
    embedding: np.ndarray  # float64 copy of the float32 vector the embedder stores


@dataclass
class PdfFile:
    name: str
    pages: list[str]
    data: bytes
    chunks: list[Chunk] = field(default_factory=list)


def chunk_id(file_name: str, page_number: int, chunk_index: int) -> str:
    """sha2-256 over ``fileName§pageNumber§chunkIndex``, as the ingest path ids chunks."""
    return hashlib.sha256(f"{file_name}§{page_number}§{chunk_index}".encode()).hexdigest()


class Generator:
    """Seeded source of PDF files and query texts."""

    def __init__(self, seed: int, pkg):
        self.rng = random.Random(seed)
        self.pkg = pkg
        self.topics = []
        for _ in range(N_TOPICS):
            weights = [1.0] * len(VOCAB)
            for i in self.rng.sample(range(len(VOCAB)), 5):
                weights[i] = TOPIC_BOOST
            self.topics.append(weights)

    def _words(self, topic: int, n: int) -> list[str]:
        return self.rng.choices(VOCAB, weights=self.topics[topic], k=n)

    def page_text(self, topic: int, long_page: bool) -> str:
        lo, hi = LONG_PAGE_CHARS if long_page else SHORT_PAGE_CHARS
        target = self.rng.randint(lo, hi)
        lines, line, size = [], [], 0
        while size < target:
            sentence = " ".join(self._words(topic, self.rng.randint(6, 18))) + "."
            line.append(sentence)
            size += len(sentence) + 1
            if sum(len(s) + 1 for s in line) >= LINE_CHARS:
                lines.append(" ".join(line))
                line = []
        if line:
            lines.append(" ".join(line))
        return "\n".join(lines)

    def pdf(self, name: str, n_pages: int) -> PdfFile:
        """One file on one topic; exactly ``round(n_pages * LONG_PAGE_SHARE)`` long pages."""
        topic = self.rng.randrange(N_TOPICS)
        long_pages = set(self.rng.sample(range(n_pages), round(n_pages * LONG_PAGE_SHARE)))
        pages = [self.page_text(topic, i in long_pages) for i in range(n_pages)]
        return PdfFile(name, pages, self.pkg.make_pdf(pages))

    def pdfs(self, prefix: str, n_files: int, n_pages: int) -> list[PdfFile]:
        return [self.pdf(f"{prefix}{i:04d}.pdf", n_pages) for i in range(n_files)]

    def query_text(self, words: tuple[int, int]) -> str:
        return " ".join(self._words(self.rng.randrange(N_TOPICS), self.rng.randint(*words)))


def attach_reference(pkg, files: list[PdfFile]) -> None:
    """Fill each file's ``chunks`` with the pure-Python reference of what ingest must store."""
    for f in files:
        f.chunks = []
        for page_number, text in enumerate(f.pages, start=1):
            for idx, piece in enumerate(pkg.split_chunks(pkg.normalize_whitespace(text))):
                vec = np.asarray(pkg.hash_embed_text(piece, DIM), dtype=np.float32)
                f.chunks.append(Chunk(chunk_id(f.name, page_number, idx), f.name, page_number,
                                      idx, piece, vec.astype(np.float64)))


def write_files(files: list[PdfFile], directory) -> int:
    """Write the PDFs into ``directory`` (created); returns the bytes written."""
    directory.mkdir(parents=True, exist_ok=True)
    for f in files:
        (directory / f.name).write_bytes(f.data)
    return sum(len(f.data) for f in files)


def describe(files: list[PdfFile]) -> dict:
    return {
        "files": len(files),
        "pages": sum(len(f.pages) for f in files),
        "long_pages": sum(len(p) > 7500 for f in files for p in f.pages),
        "pdf_bytes": sum(len(f.data) for f in files),
        "expected_chunks": sum(len(f.chunks) for f in files),
    }
