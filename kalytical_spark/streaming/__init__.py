"""Streaming control layer: the reference's event loop (SQS poller ->
dispatcher -> incubation) as one Structured Streaming query into the
dispatch ledger, plus the shared pure transition function that the batch
replay engine folds with.
"""
