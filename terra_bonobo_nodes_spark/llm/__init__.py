"""Large-scale training-data pipeline operators.

Beyond the reference's surface (BASELINE.json north star): deduplication
(exact, MinHash+LSH incl. incremental ingestion, SimHash, n-gram
Jaccard, embedding cosine), similarity search (brute-force, LSH/IVF
ANN, int8 rerank), text analysis and hygiene (language id, quality
scoring, token counting, fingerprinting, PII scrub, boilerplate and
stutter removal, mojibake repair, decontamination), corpus assembly
(hash/stratified/temperature/reservoir/quota sampling, pack-and-chunk),
embedding analytics (gram/PCA, centroid outliers), model-based curation
(learned quality filters: engineered-feature and fastText-style
hashed-token logistic regression, ``classifier``; semantic dedup over
embedding cells, ``semdedup``), retrieval (BM25), and multimodal
columns with REAL pure-Python codecs (PNG incl. sub-byte + Adam7,
baseline + progressive JPEG, BMP/PPM/WAV, spectral audio features,
perceptual hashes). Corpus-operations reports round it out: KMV
set-operation overlap between slices, stride-scheduled mixture write order,
packing-efficiency/padding-waste ledgers, readability and
vocabulary-fit signals, label-propagation host communities. All
shuffle-conscious: blocking keys before pairwise work, banding before
joins, driver collects only for bounded statistics by documented
contract.
"""
