"""Engine operators: URL-seen bloom filter, politeness token buckets,
robots.txt filtering, frontier planning (redirects, conditional GET,
adaptive budgets)."""
