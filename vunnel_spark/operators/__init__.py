"""Relational operator library.

Modules:
    dedup       exact / MinHash-LSH / SimHash / n-gram-Jaccard / embedding
                near-duplicate detection over document tables
    similarity  approximate-nearest-neighbor search over embedding columns
    windows     priority-pick, fill-down, top-1-per-group (SURVEY §2.6)
    joins       override-merge, anti-join suppression, theta-join helpers
    multimodal  binary-column plumbing for image/audio/video payloads
                (real codecs and demuxers; unknown formats raise)
"""
