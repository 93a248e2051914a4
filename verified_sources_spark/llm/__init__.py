"""Training-data pipeline operators: dedup, similarity, multimodal, text.

Each operator is a DataFrame transform designed for 100 TB inputs:
candidate generation is always hash-bucketed (never all-pairs), joins on
bucket keys shuffle only the signatures (not the documents), and nothing
collects to the driver.
"""
