"""Column functions for large-scale training-data pipelines.

Beyond the reference's operator inventory: deduplication (exact,
MinHash+LSH, SimHash, n-gram Jaccard), similarity search over embedding
columns, text analysis (language-ID, quality scoring, token counting,
fingerprinting) and multimodal (binary column) plumbing. All hot-path
math stays in pyspark.sql.functions (JVM, whole-stage codegen); Python
appears only in the clearly-marked multimodal decode stubs.
"""
