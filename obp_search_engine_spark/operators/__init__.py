"""Dataflow operators: crawl rounds (strict-fidelity + scale modes), frontier
scheduling (window-rank dequeue, politeness, salting), seen-set membership
(bloom shards), dedup suite, similarity search, search-query surface,
classifier, ban-ratio."""
